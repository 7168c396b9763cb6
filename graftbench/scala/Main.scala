package graftbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

/** JVM side of the benchmark: one closed-loop client thread running a
  * workload's ops against a GraftSession, one untimed set-up round, then
  * timed rounds until the time is up. Writes op records, distinct result
  * payloads and (traced) spans and layer metrics under `--out`; run.py
  * checks the payloads against DuckDB and computes the metrics.
  *
  * Usage: Main --workload W --seconds S --trace 0|1
  *             --input DIR --out DIR
  */
object Main {
  private def epochMs(): Double = System.nanoTime() / 1e6 + Clock.offsetMs

  private object Clock {
    val offsetMs: Double =
      System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = Workloads(args("workload"), args("input"))
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val out = new File(args("out"))
    out.mkdirs()
    val cores = Runtime.getRuntime.availableProcessors
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

    // set-up, cold: session build (graft functions registered by the
    // front door), then one whole round of the workload's ops, so that
    // every op's classes, JIT code, plans and caches are warm before the
    // first timed op. The set-up round's results are checked like any
    // other op's; its times only count towards setup_s.
    val buildStart = epochMs()
    val spark = graft.GraftSession.build(master = s"local[$cores]",
      shufflePartitions = cores, appName = "graftbench")
    spark.sparkContext.setLogLevel("ERROR")
    val records = mutable.ArrayBuffer.empty[OpRecord]
    val payloads = new PayloadSink(new File(out, "payloads.jsonl"))
    def record(r: OpRecord, payload: Option[Payload], round: Int,
               traced: Boolean): Unit = {
      val rec = r.copy(index = records.size, round = round, traced = traced)
      records += rec
      payloads.add(rec.kind, payload)
    }
    val warmUpStart = epochMs()
    workload.ops.foreach { op =>
      val (r, payload) = runOp(spark, op)
      record(r, payload, 0, traced = false)
    }
    val setupEnd = epochMs()

    val tracer = if (traced) Some(new Tracer(spark, cores)) else None
    val measureStart = epochMs()
    var round = 1
    // warm rounds, numbered from 1, until --seconds have elapsed. The
    // first round runs whole; after it the run stops at the first op that
    // ends past the deadline (run.py's metrics use per-kind medians, so a
    // partial last round does not tilt them). A traced run runs whole
    // rounds, at least two, and each op in them twice, traced and
    // untraced. The first of the two runs is the slower one, so which goes
    // first alternates between neighbouring ops and between rounds: each
    // op then runs traced-first and untraced-first once.
    def timeLeft = epochMs() - measureStart < seconds * 1000
    val minRounds = if (traced) 2 else 1
    var done = false
    while (!done) {
      val whole = traced || round <= minRounds
      val ops = workload.ops.zipWithIndex.iterator
      while (ops.hasNext && (whole || timeLeft)) {
        val (op, i) = ops.next()
        val modes =
          if (!traced) Seq(false)
          else if ((i + round) % 2 == 0) Seq(true, false)
          else Seq(false, true)
        modes.foreach { t =>
          val tr = tracer.filter(_ => t)
          tr.foreach(_.start())
          val (r, payload) = runOp(spark, op, tr)
          tr.foreach(_.stop())
          record(r, payload, round, t)
        }
      }
      done = round >= minRounds && !timeLeft
      round += 1
    }
    val measureEnd = epochMs()
    payloads.close()

    val (files, inputBytes) = workload match {
      case etl: Workloads.TaxiEtl =>
        (tableFiles(spark, etl.Table), new File(args("input")).length)
      case _ => (Seq.empty[Long], 0L)
    }
    spark.stop()

    writeLines(new File(out, "ops.jsonl"), records.map(_.json))
    val layers = tracer.map { t =>
      t.writeSpans(new File(out, "spans.jsonl"), records.toSeq)
      t.layers(records.toSeq, files, inputBytes)
    }.getOrElse(Map.empty)
    val meta = Json.obj(
      "setup_ms" -> Json.num(setupEnd - jvmStart),
      "jvm_start_ms" -> Json.num(buildStart - jvmStart),
      "setup_build_ms" -> Json.num(warmUpStart - buildStart),
      "setup_warmup_ms" -> Json.num(setupEnd - warmUpStart),
      "measure_ms" -> Json.num(measureEnd - measureStart),
      "rounds" -> Json.num(round - 1),
      "peak_rss_mb" -> Json.num(peakRssMb()),
      "cores" -> Json.num(cores),
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "spark_version" -> Json.str(org.apache.spark.SPARK_VERSION),
      "java_version" -> Json.str(System.getProperty("java.version")),
      "oracle_sql" -> Json.obj(workload.oracleSql.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> Json.str(v) }: _*),
      "layers" -> Json.obj(layers.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> Json.num(v) }: _*))
    writeLines(new File(out, "meta.json"), Seq(meta))
  }

  /** Runs one op: the graft call, then the collect of its result, both
    * inside the timed window. Rendering the result for the correctness
    * check happens after the window closes. */
  def runOp(spark: SparkSession, op: Op,
            tracer: Option[Tracer] = None): (OpRecord, Option[Payload]) = {
    tracer.foreach(_.beginOp())
    val t0 = epochMs()
    var callEnd = t0
    var result: Option[(Array[String], Array[Row])] = None
    var error: String = null
    try {
      val df = op.call(spark)
      callEnd = epochMs()
      result = df.map(d => (d.columns, d.collect()))
    } catch {
      case e: Throwable =>
        callEnd = math.max(callEnd, t0)
        error = s"${e.getClass.getName}: ${String.valueOf(e.getMessage)}"
          .linesIterator.take(3).mkString(" | ")
    }
    val t1 = epochMs()
    tracer.foreach(_.endOp())
    val gc = tracer.map(_.gcDelta()).getOrElse((0L, 0L))
    // untimed: the read-back of an op that returns nothing
    if (error == null && result.isEmpty) {
      try {
        result = op.check.map { f => val d = f(spark); (d.columns, d.collect()) }
      } catch {
        case e: Throwable => error = s"check failed: ${e.getMessage}"
      }
    }
    val payload = result.map { case (cols, rows) => Payload.render(cols, rows) }
    (OpRecord(0, 0, op.kind, op.phase, traced = false, t0, callEnd, t1,
      result.map(_._2.length).getOrElse(0),
      payload.map(_.digest).orNull, error, gc._1, gc._2), payload)
  }

  private def tableFiles(spark: SparkSession, table: String): Seq[Long] = {
    val loc = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
      .location
    val root = new File(loc)
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f)
    walk(root).filter { f =>
      val n = f.getName
      !n.startsWith(".") && !n.startsWith("_")
    }.map(_.length)
  }

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(-1.0)
    finally src.close()
  }

  def writeLines(f: File, lines: Iterable[String]): Unit = {
    val w = new PrintWriter(f, UTF_8.name)
    try lines.foreach(w.println) finally w.close()
  }
}

final case class OpRecord(index: Int, round: Int, kind: String, phase: String,
                          traced: Boolean, t0: Double, callEnd: Double,
                          t1: Double, rows: Int, digest: String,
                          error: String, gcMs: Long, gcCount: Long) {
  def ms: Double = t1 - t0
  def json: String = Json.obj(
    "i" -> Json.num(index), "round" -> Json.num(round),
    "kind" -> Json.str(kind), "phase" -> Json.str(phase),
    "traced" -> (if (traced) "true" else "false"),
    "t0" -> Json.num(t0), "call_end" -> Json.num(callEnd),
    "t1" -> Json.num(t1), "ms" -> Json.num(ms),
    "call_ms" -> Json.num(callEnd - t0), "rows" -> Json.num(rows),
    "digest" -> Json.str(digest), "error" -> Json.str(error))
}

/** A collected result rendered for the correctness check: JSON rows with
  * the columns as returned, and a digest over the column-name-sorted,
  * row-sorted rendering, so equal results share one payload. */
final case class Payload(cols: Seq[String], rows: Seq[String],
                         digest: String)

object Payload {
  def render(cols: Array[String], rows: Array[Row]): Payload = {
    val rendered = rows.map(r => Json.arr((0 until r.length).map(i =>
      Json.value(r.get(i)))))
    val order = cols.indices.sortBy(cols(_))
    val canon = rows.map(r => order.map(i => Json.value(r.get(i)))
      .mkString(",")).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(order.map(cols(_)).mkString(",").getBytes(UTF_8))
    canon.foreach(l => md.update((l + "\n").getBytes(UTF_8)))
    Payload(cols.toSeq, rendered.toSeq,
      md.digest().map("%02x".format(_)).mkString)
  }
}

/** Writes each distinct (kind, digest) payload once. */
final class PayloadSink(f: File) {
  private val seen = mutable.HashSet.empty[(String, String)]
  private val w = new PrintWriter(f, UTF_8.name)
  def add(kind: String, p: Option[Payload]): Unit = p.foreach { p =>
    if (seen.add((kind, p.digest)))
      w.println(Json.obj("kind" -> Json.str(kind),
        "digest" -> Json.str(p.digest),
        "cols" -> Json.arr(p.cols.map(Json.str)),
        "rows" -> Json.arr(p.rows)))
  }
  def close(): Unit = w.close()
}

/** Minimal JSON rendering (values are strings of JSON text). */
object Json {
  def str(s: String): String =
    if (s == null) "null"
    else {
      val b = new StringBuilder("\"")
      s.foreach {
        case '"'  => b ++= "\\\""
        case '\\' => b ++= "\\\\"
        case '\n' => b ++= "\\n"
        case '\r' => b ++= "\\r"
        case '\t' => b ++= "\\t"
        case c if c < 0x20 => b ++= f"\\u${c.toInt}%04x"
        case c => b += c
      }
      (b += '"').toString
    }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) str(d.toString)
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")

  private val tsFmt =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  /** One result cell. Timestamps render in UTC (the session time zone). */
  def value(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) str(d.toString) else d.toString
    case d: java.math.BigDecimal => d.toPlainString
    case t: java.sql.Timestamp =>
      str(t.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDateTime
        .format(tsFmt))
    case t: java.time.LocalDateTime => str(t.format(tsFmt))
    case d: java.sql.Date => str(d.toLocalDate.toString)
    case s: String => str(s)
    case other => str(other.toString)
  }
}
