package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry
import graft.cypher.Cypher
import graft.graph.{GraphStore, MutableGraph, PropertyGraph, TpchGraph}
import graft.types._

/** One op of a workload script: which engine entry point to call, with
  * which text and parameters, and how to check the rows it returns. */
final case class Step(
    op: String,
    kind: String,
    call: String,
    graph: String,
    text: String,
    params: Map[String, AgValue],
    entry: String,
    expect: Option[Seq[String]],
    oracle: String)

object Step {
  def apply(n: JsonNode): Step = {
    def str(k: String) = Option(n.get(k)).filterNot(_.isNull).map(_.asText).orNull
    val params = Option(n.get("params")).toSeq
      .flatMap(_.fields.asScala.map(e => e.getKey -> agValue(e.getValue))).toMap
    val expect = Option(n.get("expect")).filterNot(_.isNull)
      .map(_.elements.asScala.map(Harness.rowKeyOfJson).toSeq)
    Step(str("op"), str("kind"), str("call"), str("graph"), str("text"), params,
      str("entry"), expect, str("oracle"))
  }

  private def agValue(v: JsonNode): AgValue =
    if (v.isIntegralNumber) AgInt(v.asLong)
    else if (v.isNumber) AgFloat(v.asDouble)
    else if (v.isBoolean) AgBool(v.asBoolean)
    else if (v.isArray) AgArray(v.elements.asScala.map(agValue).toVector)
    else AgString(v.asText)
}

/** Times, rows and checks of one executed op. */
final class OpRecord(val seq: Int, val pass: Int, val step: Step, val traced: Boolean) {
  /** Phase name -> [start, end] System.nanoTime. */
  val phases = mutable.LinkedHashMap[String, (Long, Long)]()
  var latencyNs = 0L
  var rows = 0
  var fingerprint: String = null
  var error: String = null
  var expectOk: Option[Boolean] = None
  var consistentOk: Option[Boolean] = None
  var planNodes = 0
  var commitBytes = 0L
  def failed: Boolean =
    error != null || expectOk.contains(false) || consistentOk.contains(false)
}

/** Runs one workload script in one Spark session and writes everything it
  * measured as JSON. The script (made by perfbench/workloads.py) names
  * the ops; this program only calls the engine's public entry points,
  * times each call into a layer from outside, and checks answers.
  *
  * Usage: Harness <script.json> <out.json> */
object Harness {
  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val script = mapper.readTree(new File(args(0)))
    val out = new Harness(script).run()
    Files.write(Paths.get(args(1)), mapper.writeValueAsBytes(out))
  }

  /** Canonical text of one value, shared with the script's expectations:
    * numbers to 6 decimals without trailing zeros, nested values
    * recursively. */
  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal => num(b.doubleValue)
    case n: java.lang.Number => n.longValue.toString
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case s: scala.collection.Map[_, _] =>
      s.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case other => other.toString
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else {
      val s = BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_EVEN)
        .bigDecimal.stripTrailingZeros.toPlainString
      if (s == "-0") "0" else s
    }

  def rowKey(r: Row): String = r.toSeq.map(canon).mkString("\u0001")

  def rowKeyOfJson(row: JsonNode): String =
    row.elements.asScala.map(_.asText).mkString("\u0001")

  /** Order-insensitive digest of a result. */
  def fingerprint(keys: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    keys.sorted.foreach { k => md.update(k.getBytes(StandardCharsets.UTF_8)); md.update(0.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  def dirBytes(path: String): Long = {
    val root = new File(path)
    if (!root.exists) 0L
    else Files.walk(root.toPath).iterator.asScala.map(_.toFile).filter(_.isFile).map(_.length).sum
  }
}

final class Harness(script: JsonNode) {
  import Harness._

  private val t0Epoch = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  private val baseNano = System.nanoTime()
  private val baseEpoch = System.currentTimeMillis()
  private def epochMs(nano: Long): Double = baseEpoch + (nano - baseNano) / 1e6

  private val workDir = script.get("work_dir").asText
  private val dataDir = script.get("data_dir").asText
  private val cores = script.get("cores").asInt
  private val seconds = script.get("seconds").asDouble
  private val deadlineS = script.get("deadline_s").asDouble
  private val traceRun = script.get("trace").asBoolean
  private val setupKind = script.get("setup").asText
  private val setupRepeats = script.get("setup_repeats").asInt
  /** Labels of the TPC-H graph copied into graph_write's mutable store. */
  private val storeLabels = Option(script.get("store_labels")).toSeq
    .flatMap(_.elements.asScala.map(_.asText)).toSet
  private def steps(n: JsonNode): Seq[Step] = n.elements.asScala.map(Step(_)).toSeq
  private val warmup = steps(script.get("warmup"))
  private val passes = script.get("passes").elements.asScala.map(steps).toSeq
  private val finalByPass = Option(script.get("final_by_pass")).toSeq
    .flatMap(_.elements.asScala.map(steps))

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.checkpoint.compress", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$workDir/hadoop-tmp")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  private val tracer = new Tracer
  private var store: MutableGraph = _
  private var storePath: String = _
  private var loaded: PropertyGraph = _
  private var seq = 0
  private val firstResult = mutable.HashMap[String, (String, Array[Row], org.apache.spark.sql.types.StructType)]()

  private def setSpan(span: String): Unit =
    if (traceRun) spark.sparkContext.setLocalProperty(Tracer.Key, span)

  /** A traced run attaches the tracer for the set-up and the traced ops
    * only, so an untraced op runs with no benchmark listener at all and
    * trace.overhead_frac compares tracing against none. The bus is
    * drained before each switch; on attach the live-block table is
    * re-read from the block manager, since untraced ops pin and unpin. */
  private var attached = false
  private def tracing(on: Boolean): Unit = if (traceRun && on != attached) {
    val sc = spark.sparkContext
    PerfbenchBus.drain(sc)
    if (on) {
      sc.addSparkListener(tracer)
      tracer.resync(PerfbenchBus.rddBlocks(sc))
    } else sc.removeSparkListener(tracer)
    attached = on
  }

  private def graph(name: String): PropertyGraph = name match {
    case "tpch" => TpchGraph(spark, dataDir)
    case "store" => store.snapshot
    case "loaded" => loaded
    case other => throw new IllegalArgumentException(s"unknown graph '$other'")
  }

  private def build(st: Step): DataFrame = st.call match {
    case "cypher" => Cypher.query(spark, graph(st.graph), st.text, st.params)
    case "execute" => Cypher.execute(spark, store, st.text, st.params)
    case "sql" =>
      graft.plans.GraphRegistry.register(st.graph, TpchGraph(spark, dataDir))
      spark.sql(st.text)
    case "entry" => SparkEntry.queries(st.entry)(spark, dataDir)
    case other => throw new IllegalArgumentException(s"unknown call '$other'")
  }

  /** Runs one op: build, the three Catalyst phases, collect, verify. The
    * latency ends when the rows are collected in this process. */
  private def runOp(st: Step, pass: Int, traced: Boolean): OpRecord = {
    seq += 1
    val rec = new OpRecord(seq, pass, st, traced)
    val sc = spark.sparkContext
    tracing(traced)
    if (traced) PerfbenchBus.post(sc, OpMarker(rec.seq, begin = true))
    else setSpan(Tracer.Untraced)
    var last = System.nanoTime()
    val start = last
    def phase[T](name: String)(body: => T): T = {
      if (traced) setSpan(s"${rec.seq}:$name")
      try body
      finally {
        val now = System.nanoTime()
        rec.phases(name) = (last, now)
        last = now
      }
    }
    var rows: Array[Row] = Array.empty
    var df: DataFrame = null
    try {
      if (st.call == "commit") {
        val before = dirBytes(storePath)
        phase("storage") { GraphStore.commit(store, storePath) }
        rec.commitBytes = dirBytes(storePath) - before
      } else {
        df = phase("build") { build(st) }
        val qe = df.queryExecution
        phase("analyze") { qe.analyzed }
        phase("optimize") { qe.optimizedPlan }
        phase("physical") { qe.executedPlan }
        rows = phase("exec") { df.collect() }
      }
    } catch {
      case NonFatal(e) =>
        rec.error = (e.getClass.getName + ": " + Option(e.getMessage).getOrElse(""))
          .replaceAll("\\s+", " ").take(400)
    }
    rec.latencyNs = System.nanoTime() - start
    if (rec.error == null) phase("verify") { verify(rec, rows, df) }
    if (traced) {
      setSpan(s"${rec.seq}:post")
      if (df != null) rec.planNodes = scala.util.Try(
        df.queryExecution.optimizedPlan.collectWithSubqueries { case p => p }.size).getOrElse(0)
      PerfbenchBus.post(sc, OpMarker(rec.seq, begin = false))
    }
    rec
  }

  private def verify(rec: OpRecord, rows: Array[Row], df: DataFrame): Unit = {
    val keys = rows.toSeq.map(rowKey)
    rec.rows = rows.length
    rec.fingerprint = fingerprint(keys)
    rec.step.expect.foreach(exp => rec.expectOk = Some(keys.sorted == exp.sorted))
    if (rec.step.oracle != null) firstResult.get(rec.step.oracle) match {
      case Some((fp, _, _)) => rec.consistentOk = Some(fp == rec.fingerprint)
      case None => firstResult(rec.step.oracle) = (rec.fingerprint, rows, df.schema)
    }
  }

  /** The workload's in-session set-up, run `setup_repeats` times. */
  private def setupGraph(): Unit = setupKind match {
    case "none" => ()
    case "tpch" =>
      TpchGraph.invalidate()
      TpchGraph(spark, dataDir).vertexLabels.foreach(_.df.schema)
    case "mutable" =>
      TpchGraph.invalidate()
      val g = TpchGraph(spark, dataDir)
      store = MutableGraph.from(new PropertyGraph(g.name,
        g.vertexLabels.filter(l => storeLabels(l.name)),
        g.edgeLabels.filter(l => storeLabels(l.name))), spark)
      storePath = s"$workDir/store"
    case other => throw new IllegalArgumentException(s"unknown setup '$other'")
  }

  private def elapsedS(since: Long) = (System.nanoTime() - since) / 1e9

  def run(): ObjectNode = {
    val out = mapper.createObjectNode()
    val sc = spark.sparkContext
    tracing(true)
    val sessionS = (System.currentTimeMillis() - t0Epoch) / 1000.0
    val graphS = (0 until setupRepeats).map { i =>
      setSpan(s"setup$i:storage")
      val t = System.nanoTime()
      setupGraph()
      elapsedS(t)
    }
    val tWarm = System.nanoTime()
    val warmRecs = warmup.map(runOp(_, 0, traced = false))
    val warmupS = elapsedS(tWarm)

    // the timed window: whole passes until `seconds` have elapsed. A
    // traced run traces half of the op names in odd passes and the other
    // half in even passes, and runs an even number of passes, so every
    // op runs both ways and the tracing overhead can be read off the pairs
    val opRank = passes.flatten.map(_.op).distinct.sorted.zipWithIndex.toMap
    val winStart = System.nanoTime()
    val recs = mutable.ArrayBuffer[OpRecord]()
    var p = 0
    var lastPassS = 0.0
    def more: Boolean =
      p < passes.size &&
        (elapsedS(winStart) < seconds || (traceRun && p % 2 == 1)) &&
        elapsedS(baseNano) + lastPassS < deadlineS
    while (p == 0 || more) {
      val tp = System.nanoTime()
      recs ++= passes(p).map(st => runOp(st, p + 1, traceRun && (p + opRank(st.op)) % 2 == 1))
      lastPassS = elapsedS(tp)
      p += 1
    }
    val windowS = elapsedS(winStart)
    setSpan(Tracer.Untraced)

    // graph_write: commit what the window wrote, reload it through the
    // storage layer and check the final reads against the script's model
    val finalRecs = mutable.ArrayBuffer[OpRecord]()
    var reloadMs = 0.0
    if (finalByPass.nonEmpty) {
      finalRecs += runOp(Step("final_commit", "commit", "commit", null, null, Map.empty,
        null, None, null), 0, traced = false)
      val t = System.nanoTime()
      try loaded = GraphStore.loadVersion(spark, storePath)
      catch { case NonFatal(e) => () }
      reloadMs = (System.nanoTime() - t) / 1e6
      finalRecs ++= finalByPass(math.min(p, finalByPass.size - 1)).map(runOp(_, 0, traced = false))
    }

    // results of each oracle-checked op's first execution, for the
    // DuckDB comparison that runs after this process exits
    val dumps = out.putObject("dumps")
    for ((name, (fp, rows, schema)) <- firstResult) {
      val dir = s"$workDir/dumps/$name"
      try {
        spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1).write.parquet(dir)
        val d = dumps.putObject(name)
        d.put("fingerprint", fp)
        d.put("dir", dir)
        d.put("sql", SparkEntry.oracleSql.getOrElse(name, null))
      } catch {
        case NonFatal(e) => dumps.putObject(name).put("error", e.toString.take(300))
      }
    }

    tracing(false)
    val setup = out.putObject("setup")
    setup.put("session_s", sessionS)
    val gs = setup.putArray("graph_s")
    graphS.foreach(gs.add(_))
    setup.put("warmup_s", warmupS)
    if (traceRun) {
      val last = tracer.spans.get(s"setup${setupRepeats - 1}:storage")
      setup.put("graph_jobs", last.map(_.jobs).getOrElse(0))
    }
    out.put("window_s", windowS)
    out.put("passes", p)
    out.put("reload_ms", reloadMs)
    out.put("unattributed_jobs", tracer.unattributedJobs)
    val ops = out.putArray("ops")
    recs.foreach(r => ops.add(opJson(r)))
    val w = out.putArray("warmup_ops")
    warmRecs.foreach(r => w.add(opJson(r)))
    val f = out.putArray("final_ops")
    finalRecs.foreach(r => f.add(opJson(r)))
    if (traceRun) writeTrace(recs.filter(_.traced).toSeq)
    spark.stop()
    out
  }

  private def opJson(r: OpRecord): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("seq", r.seq)
    o.put("pass", r.pass)
    o.put("op", r.step.op)
    o.put("kind", r.step.kind)
    o.put("traced", r.traced)
    o.put("latency_s", r.latencyNs / 1e9)
    o.put("rows", r.rows)
    o.put("fingerprint", r.fingerprint)
    o.put("error", r.error)
    r.expectOk.foreach(o.put("expect_ok", _))
    r.consistentOk.foreach(o.put("consistent_ok", _))
    o.put("failed", r.failed)
    if (r.step.oracle != null) o.put("oracle", r.step.oracle)
    val ph = o.putObject("phases_ms")
    r.phases.foreach { case (k, (a, b)) => ph.put(k, (b - a) / 1e6) }
    if (r.traced) o.set[ObjectNode]("layers", layers(r))
    o
  }

  private def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }

  /** Per-layer numbers of one traced op. */
  private def layers(r: OpRecord): ObjectNode = {
    val o = mapper.createObjectNode()
    def ms(ph: String) = r.phases.get(ph).map { case (a, b) => (b - a) / 1e6 }.getOrElse(0.0)
    def st(ph: String) = tracer.spans.getOrElse(s"${r.seq}:$ph", new SpanStats)
    val b = st("build")
    val buildJobMs = unionMs(b.jobIntervals.toSeq)
    o.put("build.ms", ms("build"))
    o.put("build.jobs", b.jobs)
    o.put("build.job_ms", buildJobMs)
    o.put("build.free_ms", math.max(0.0, ms("build") - buildJobMs))
    o.put("catalyst.analyze_ms", ms("analyze"))
    o.put("catalyst.optimize_ms", ms("optimize"))
    o.put("catalyst.physical_ms", ms("physical"))
    o.put("catalyst.plan_nodes", r.planNodes)
    val execPhase = if (r.step.call == "commit") "storage" else "exec"
    val e = st(execPhase)
    val execMs = ms(execPhase)
    o.put("exec.ms", execMs)
    o.put("exec.jobs", e.jobs)
    o.put("exec.stages", e.stages)
    o.put("exec.tasks", e.tasks)
    o.put("exec.task_ms", e.taskMs)
    o.put("exec.task_cpu_ms", e.cpuNs / 1e6)
    o.put("exec.slot_busy_frac", if (execMs > 0) e.taskMs / (execMs * cores) else 0.0)
    o.put("exec.gc_ms", e.gcMs)
    o.put("exec.shuffle_read_bytes", e.shuffleRead)
    o.put("exec.shuffle_write_bytes", e.shuffleWrite)
    o.put("exec.spill_bytes", e.spill)
    o.put("exec.scan_bytes", e.scan)
    o.put("exec.result_rows", r.rows)
    if (r.step.call == "commit") {
      o.put("storage.write_jobs", e.jobs)
      o.put("storage.commit_bytes", r.commitBytes)
    }
    val pin = tracer.pins.getOrElse(r.seq, new PinStats)
    o.put("pin.blocks_written", pin.blocksWritten)
    o.put("pin.peak_bytes", pin.peakBytes)
    o.put("pin.live_bytes_after_op", pin.liveAfter)
    val wall = r.latencyNs / 1e6 + ms("verify")
    val phaseSum = r.phases.values.map { case (a, bb) => (bb - a) / 1e6 }.sum
    o.put("phase_sum_ms", phaseSum)
    o.put("wall_ms", wall)
    o
  }

  /** Spans op -> phase -> job -> stage of the traced ops, epoch ms. */
  private def writeTrace(recs: Seq[OpRecord]): Unit = {
    val arr = mapper.createArrayNode()
    def span(id: String, parent: String, op: Int, name: String, s: Double, e: Double): Unit = {
      val o = arr.addObject()
      o.put("id", id)
      o.put("parent", parent)
      o.put("op", op)
      o.put("name", name)
      o.put("start_ms", s)
      o.put("end_ms", e)
    }
    val bySpan = tracer.jobs.values.groupBy(_.span)
    val stagesByJob = tracer.stages.groupBy(_.jobId)
    for (r <- recs) {
      val opId = s"op${r.seq}"
      val first = r.phases.values.map(_._1).min
      val last = r.phases.values.map(_._2).max
      span(opId, null, r.seq, r.step.op, epochMs(first), epochMs(last))
      for ((ph, (a, b)) <- r.phases) {
        val phId = s"$opId/$ph"
        span(phId, opId, r.seq, ph, epochMs(a), epochMs(b))
        for (j <- bySpan.getOrElse(s"${r.seq}:$ph", Nil)) {
          val jobId = s"job${j.jobId}"
          span(jobId, phId, r.seq, s"job ${j.jobId}", j.start.toDouble, j.end.toDouble)
          for (s <- stagesByJob.getOrElse(j.jobId, Nil))
            span(s"stage${s.stageId}.${s.attempt}", jobId, r.seq,
              s"stage ${s.stageId} (${s.tasks} tasks)", s.start.toDouble, s.end.toDouble)
        }
      }
    }
    Files.write(Paths.get(s"$workDir/trace.json"), mapper.writeValueAsBytes(arr))
  }
}
