package graftbench

import java.io.{File, FileInputStream}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.{GraftSession, ProfileJobCost, Tables}

/** One landed slice for the etl workload, with the warehouse row count expected
  * once it is upserted. */
final case class Slice(path: String, rows: Long, warehouseRows: Long)

/** The run's settings, read from a properties file written by run.py. */
final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      inputs: String, work: String, out: String, minPasses: Int,
                      slices: Seq[Slice], sql: Map[String, String])

object Conf {
  def load(path: String): Conf = {
    val p = new java.util.Properties()
    val in = new java.io.InputStreamReader(new FileInputStream(path), UTF_8)
    try p.load(in) finally in.close()
    val keys = p.stringPropertyNames().asScala.toSeq
    val slices = keys.filter(k => k.startsWith("slice.") && k.endsWith(".path"))
      .map(_.split('.')(1).toInt).sorted.map { i =>
        Slice(p.getProperty(s"slice.$i.path"), p.getProperty(s"slice.$i.rows").toLong,
          p.getProperty(s"slice.$i.warehouse_rows").toLong)
      }
    val sql = keys.filter(_.startsWith("sql.")).map(k => k.stripPrefix("sql.") -> p.getProperty(k)).toMap
    Conf(p.getProperty("workload"), p.getProperty("seed").toLong, p.getProperty("seconds").toDouble,
      p.getProperty("trace") == "1", p.getProperty("inputs"), p.getProperty("work"),
      p.getProperty("out"), p.getProperty("min_passes", "2").toInt, slices, sql)
  }
}

/** The single client: runs ops, times them, fingerprints what they
  * return, and compares each timed result with the verify pass's. */
final class Client(val spark: SparkSession, val dir: String, val work: String,
                   val tracer: Tracer, oracle: Map[String, String]) {
  var verifying = false
  var timed = false
  var attempted = 0L
  var failed = 0L
  /** Time spent checking results, kept out of the pass's wall time. */
  var checkNs = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  val latencies = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val commitMs = mutable.ArrayBuffer.empty[Double]
  val counts = mutable.Map.empty[(Int, String), Double]
  private val expected = mutable.Map.empty[String, String]
  private val seen = mutable.Map.empty[String, Int]
  private var opFailed = false

  def beginPass(): Unit = seen.clear()

  def fail(msg: String): Unit = {
    opFailed = true
    if (errors.size < 50) errors += msg
  }

  def op(name: String)(body: => Out): Unit = {
    val k = seen.getOrElse(name, 0) + 1
    seen(name) = k
    val key = s"$name#$k"
    attempted += 1
    opFailed = false
    val t0 = System.nanoTime()
    try {
      val out = tracer.span("op", "op", name)(body)
      val dt = (System.nanoTime() - t0) / 1e9
      if (timed) latencies.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += dt
      val c0 = System.nanoTime()
      val fp = Fingerprint(out)
      if (verifying) {
        expected(key) = fp
        if (oracle.contains(name)) writeVerify(name, out)
      } else if (!expected.get(key).contains(fp))
        fail(s"$key: fingerprint $fp differs from the verify pass's ${expected.getOrElse(key, "-")}")
      checkNs += System.nanoTime() - c0
    } catch {
      case e: Throwable => fail(s"$key: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    if (opFailed) failed += 1
  }

  /** An op that commits a table write; its latency feeds commit_p*_ms. */
  def commit(name: String)(body: => Out): Unit = {
    val t0 = System.nanoTime()
    op(name)(body)
    if (timed) commitMs += (System.nanoTime() - t0) / 1e6
  }

  def span[A](layer: String, phase: String, name: String)(body: => A): A =
    tracer.span(layer, phase, name)(body)

  /** Build the DataFrame (the graft call) and collect it (the action). */
  def collect(layer: String, call: String)(build: => org.apache.spark.sql.DataFrame): Out = {
    val df = span(layer, "build", call)(build)
    val rows = span(layer, "exec", call)(df.collect().toSeq)
    Out(rows, df.schema)
  }

  def count(metric: String, v: Double): Unit =
    if (tracer.enabled) counts((tracer.pass, metric)) = counts.getOrElse((tracer.pass, metric), 0.0) + v

  def runCheck(w: Workload): Unit = {
    attempted += 1
    val msgs = try w.check(this) catch { case e: Throwable => Seq(s"check: ${e.getMessage}") }
    if (msgs.nonEmpty) { failed += 1; msgs.foreach(m => if (errors.size < 50) errors += m) }
  }

  private def writeVerify(name: String, out: Out): Unit =
    spark.createDataFrame(out.rows.asJava, out.schema).coalesce(1)
      .write.mode("overwrite").parquet(s"$work/verify/$name")
}

/** Order-insensitive fingerprint of a result: row count plus the sum of
  * 64-bit row hashes, over columns in name order. Doubles keep 6
  * significant digits, so summation order inside the engine cannot
  * change it between passes; the DuckDB comparison is the tight one. */
object Fingerprint {
  import scala.util.hashing.MurmurHash3

  def apply(out: Out): String = {
    val order = out.schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    var h = 0L
    out.rows.foreach { r =>
      val s = order.map(i => canon(r.get(i))).mkString("\u0001")
      h += (MurmurHash3.stringHash(s, 17).toLong << 32) ^ (MurmurHash3.stringHash(s, 31) & 0xffffffffL)
    }
    val schema = order.map(i => out.schema.fields(i)).map(f => s"${f.name}:${f.dataType.simpleString}")
    s"${out.rows.size}:${java.lang.Long.toHexString(h)}:${schema.mkString(",")}"
  }

  private def canon(v: Any): String = v match {
    case null                     => "\u0000"
    case d: Double                => if (d.isNaN) "NaN" else String.format(java.util.Locale.ROOT, "%.5e", d)
    case f: Float                 => canon(f.toDouble)
    case b: java.math.BigDecimal  => b.stripTrailingZeros.toPlainString
    case b: Array[Byte]           => b.map("%02x".format(_)).mkString
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.map { case (a, b) => canon(a) + "=" + canon(b) }.toSeq.sorted.mkString("{", ",", "}")
    case r: Row                   => r.toSeq.map(canon).mkString("(", ",", ")")
    case other                    => other.toString
  }
}

object Harness {
  private def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8).trim
    catch { case _: Throwable => "" }

  private def peakRssMb(): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    catch { case _: Throwable => 0.0 }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private def startSession(conf: Conf): SparkSession =
    GraftSession.builder(appName = "graftbench")
      .config("spark.local.dir", s"${conf.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${conf.work}/spark-warehouse")
      .getOrCreate()

  def main(args: Array[String]): Unit = {
    val entryMs = System.currentTimeMillis()
    val loadStart = loadavg()
    val conf = Conf.load(args(0))
    val workload = Workload(conf.workload, conf)
    // run.py runs the DuckDB oracle while this JVM warms up
    val oracleJson = workload.oracle.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }
      .mkString("{", ", ", "}")
    Files.createDirectories(Paths.get(s"${conf.work}/verify"))
    // written aside and renamed, so run.py never reads a partly written file
    val oracleTmp = Paths.get(s"${conf.work}/verify/oracle.json.tmp")
    Files.write(oracleTmp, oracleJson.getBytes(UTF_8))
    Files.move(oracleTmp, Paths.get(s"${conf.work}/verify/oracle.json"), StandardCopyOption.ATOMIC_MOVE)

    // set-up, part 1: the session
    val s0 = System.nanoTime()
    val spark = startSession(conf)
    val sessionStartS = (System.nanoTime() - s0) / 1e9
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val probe = new Probe
    if (conf.trace) {
      sc.addSparkListener(probe)
      spark.listenerManager.register(probe)
    }
    val tracer = new Tracer(s"${conf.workload}-${conf.seed}-$entryMs", sc)
    val client = new Client(spark, conf.inputs, conf.work, tracer, workload.oracle)

    // set-up, part 2: views, then the untimed verify pass (also the warm-up)
    val w0 = System.nanoTime()
    Tables.registerAll(spark, conf.inputs)
    client.verifying = true
    workload.reset(client)
    client.beginPass()
    workload.pass(client)
    client.verifying = false
    client.runCheck(workload)
    val warmupS = (System.nanoTime() - w0) / 1e9

    // nothing else may run on the box while this JVM measures
    val o0 = System.nanoTime()
    val oracleDone = Paths.get(s"${conf.work}/verify/oracle.done")
    while (!Files.exists(oracleDone) && System.nanoTime() - o0 < 120e9) Thread.sleep(20)
    val oracleWaitS = (System.nanoTime() - o0) / 1e9

    // box noise record: per-job cost on this box right now
    val (jobCostMs, aggCostMs) = ProfileJobCost.measure(spark, nTrivial = 10, nAgg = 2)

    // measured passes; in a traced run every second pass is traced
    final case class PassRec(index: Int, traced: Boolean, wallS: Double, fromMs: Long, toMs: Long,
                             gcS: Double)
    val passes = mutable.ArrayBuffer.empty[PassRec]
    val m0 = System.nanoTime()
    var p = 0
    while (p < conf.minPasses || (System.nanoTime() - m0) / 1e9 < conf.seconds) {
      val traced = conf.trace && p % 2 == 1
      workload.reset(client)
      client.beginPass()
      client.timed = !traced
      tracer.pass = p
      tracer.enabled = traced
      sc.setLocalProperty(Probe.PassKey, p.toString)
      val gc0 = gcMs()
      val fromMs = System.currentTimeMillis()
      val check0 = client.checkNs
      val t0 = System.nanoTime()
      workload.pass(client)
      val wall = (System.nanoTime() - t0 - (client.checkNs - check0)) / 1e9
      val toMs = System.currentTimeMillis()
      passes += PassRec(p, traced, wall, fromMs, toMs, (gcMs() - gc0) / 1e3)
      tracer.enabled = false
      client.timed = false
      sc.setLocalProperty(Probe.PassKey, null)
      client.runCheck(workload)
      p += 1
    }
    val bytesWritten = workload match {
      case w: Etl => w.bytesWritten(client)
      case _      => 0L
    }
    org.apache.spark.graftbench.Bus.drain(sc)

    // per-layer numbers of each traced pass
    val layers = passes.filter(_.traced).map { rec =>
      val jobs = probe.jobsOf(rec.index)
      val stages = probe.stagesOf(rec.index)
      val queries = probe.queriesIn(rec.fromMs, rec.toMs)
      val spans = tracer.ofPass(rec.index)
      val byId = spans.map(s => s.id -> s).toMap
      def opOf(id: Int): String = byId.get(id) match {
        case Some(s) if s.layer == "op" => s.name
        case Some(s)                    => opOf(s.parent)
        case None                       => ""
      }
      val sec = tracer.seconds(rec.index)
      def total(layer: String, phases: String*) = phases.map(ph => sec.get((layer, ph)).map(_._1).getOrElse(0.0)).sum
      val mib = 1024.0 * 1024.0
      val m = mutable.LinkedHashMap[String, Double](
        "spark.jobs" -> jobs.size.toDouble,
        "spark.stages" -> stages.size.toDouble,
        "spark.tasks" -> stages.map(_.tasks).sum.toDouble,
        "spark.task_s" -> stages.map(_.runMs).sum / 1e3,
        "spark.driver_gap_s" -> (rec.wallS - Probe.jobCoverMs(jobs, rec.fromMs, rec.toMs) / 1e3),
        "spark.dispatch_share" -> jobs.size * jobCostMs / (rec.wallS * 1e3),
        "spark.scan_mb" -> stages.map(_.bytesRead).sum / mib,
        "spark.shuffle_read_mb" -> stages.map(_.shuffleRead).sum / mib,
        "spark.shuffle_write_mb" -> stages.map(_.shuffleWrite).sum / mib,
        "spark.spill_mb" -> stages.map(_.spill).sum / mib,
        "jvm.gc_s" -> rec.gcS,
        "catalyst.actions" -> queries.size.toDouble,
        "catalyst.analysis_ms" -> queries.map(_.analysisMs).sum.toDouble,
        "catalyst.optimization_ms" -> queries.map(_.optimizationMs).sum.toDouble,
        "catalyst.planning_ms" -> queries.map(_.planningMs).sum.toDouble)
      conf.workload match {
        case "etl" =>
          m ++= Seq("relational.build_s" -> total("relational", "build"),
            "relational.exec_s" -> total("relational", "exec"),
            "sql.build_s" -> total("sql", "build"), "sql.exec_s" -> total("sql", "exec"),
            "ingest.read_s" -> total("ingest", "read"),
            "ingest.rows" -> stages.filter(s => opOf(s.span) == "store_append").map(_.recordsRead).sum.toDouble,
            "ingest.mb" -> conf.slices.map(s => new File(s.path).length).sum / mib,
            "tablestore.store_s" -> total("tablestore", "store"),
            "tablestore.upsert_s" -> total("tablestore", "upsert"),
            "manifest.publish_s" -> total("manifest", "publish"),
            "tablestore.files_written" -> queries.map(_.files).sum.toDouble,
            "tablestore.mb_written" -> queries.map(_.bytes).sum / mib,
            "sink.readback_s" -> total("sink", "readback"))
        case "operators" =>
          val graphJobs = jobs.count(j => byId.get(j.span).exists(_.layer == "graph"))
          m ++= Seq("pipeline.corpus_e2e_s" -> total("pipeline", "build", "exec"),
            "text.exec_s" -> total("text", "build", "exec"),
            "dedup.exec_s" -> total("dedup", "build", "exec"),
            "similarity.exec_s" -> total("similarity", "build", "exec"),
            "dedup.pairs_out" -> client.counts.getOrElse((rec.index, "dedup.pairs_out"), 0.0),
            "graph.build_s" -> total("graph", "build"),
            "graph.exec_s" -> total("graph", "exec"),
            "graph.jobs_per_round" -> graphJobs.toDouble / GraphRounds.rounds)
        case _ =>
      }
      // self time per layer: span time net of nested spans
      sec.groupBy(_._1._1).foreach { case (layer, phases) =>
        m(s"self.$layer.s") = phases.values.map(_._2).sum
      }
      m.toMap
    }

    val rss = peakRssMb()
    val loadEnd = loadavg()
    val result = Json.obj(
      "workload" -> conf.workload, "seed" -> conf.seed, "entry_ms" -> entryMs,
      "loadavg_start" -> loadStart, "loadavg_end" -> loadEnd,
      "session_start_s" -> sessionStartS, "warmup_s" -> warmupS, "oracle_wait_s" -> oracleWaitS,
      "job_cost_ms" -> jobCostMs, "agg_cost_ms" -> aggCostMs,
      "passes" -> passes.map(rec => Json.obj("index" -> rec.index, "traced" -> rec.traced,
        "wall_s" -> rec.wallS)),
      "op_latency_s" -> client.latencies.map { case (k, v) => k -> v.toSeq }.toSeq,
      "commit_ms" -> client.commitMs.toSeq,
      "bytes_written" -> bytesWritten,
      "bytes_input" -> conf.slices.map(s => new File(s.path).length).sum,
      "layers" -> layers.map(_.toSeq.sortBy(_._1)),
      "attempted" -> client.attempted, "failed" -> client.failed,
      "errors" -> client.errors.toSeq, "peak_rss_mb" -> rss)
    Files.write(Paths.get(conf.out), result.json.getBytes(UTF_8))
    if (conf.trace) {
      val spans = tracer.spans.map(s => Json.obj("id" -> s.id, "parent" -> s.parent,
        "pass" -> s.pass, "layer" -> s.layer, "phase" -> s.phase, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "run" -> tracer.runId))
      Files.write(Paths.get(conf.out + ".spans.json"), spans.map(_.json).mkString("[", ",\n", "]").getBytes(UTF_8))
    }
    spark.stop()
  }
}

/** Just enough JSON writing for the run record. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case '\r'         => "\\r"
    case '\t'         => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null                      => "null"
    case s: String                 => str(s)
    case b: Boolean                => b.toString
    case d: Double                 => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int                    => n.toString
    case n: Long                   => n.toString
    case raw: Raw                  => raw.json
    case kv: Seq[_] if kv.nonEmpty && kv.forall(_.isInstanceOf[(_, _)]) =>
      kv.map { case (k, x) => s"${str(k.toString)}: ${value(x)}" }.mkString("{", ", ", "}")
    case s: Iterable[_]            => s.map(value).mkString("[", ", ", "]")
    case other                     => str(other.toString)
  }

  final case class Raw(json: String)
  def obj(kv: (String, Any)*): Raw = Raw(kv.map { case (k, x) => s"${str(k)}: ${value(x)}" }
    .mkString("{", ", ", "}"))
}
