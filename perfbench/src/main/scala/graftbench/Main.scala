package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.SparkEntry
import graft.sources.Tables
import org.apache.spark.sql.SparkSession

/** The benchmark harness: one client that runs a workload's
  * queries back to back, one at a time (a closed loop), against graft's
  * public entry point `SparkEntry.queries(name)(spark, dir)`, and
  * materialises each result through the noop sink.
  *
  * Run order in one process:
  *  1. three set-ups (the first from process launch, the other two
  *     re-create the session in the warm JVM), each ending when the
  *     session is ready and every input table is registered;
  *  2. the first pass in the fresh session (cold);
  *  3. one untimed pass that writes each query's output as parquet for
  *     the oracle compare, together with `oracle_sql.json`;
  *  4. warm passes until `--seconds` have elapsed since the first of them
  *     began and at least `--warm` of them ran.
  *
  * With `--trace 1` the listeners in Trace.scala are registered, the
  * cold pass and the first and fourth of four warm passes are traced,
  * and the spans are written when the run ends. Results go to the JSON file named by
  * `--out`; stdout is left to the caller.
  */
object Main {
  /** Local property naming the harness span a Spark job was started under. */
  val SpanProp = "graftbench.span"

  private def now(): Double = System.currentTimeMillis().toDouble
  private def nanos(): Long = System.nanoTime()

  final case class QueryRun(name: String, startMs: Double, buildS: Double, execS: Double,
      error: Option[String])
  final case class Pass(index: Int, traced: Boolean, startMs: Double, endMs: Double,
      wallS: Double, queries: Seq[QueryRun])

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val dir = opt("data")
    val names = opt("queries").split(",").toSeq
    val unknown = names.filterNot(SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val seconds = opt("seconds").toDouble
    val minWarm = opt("warm").toInt
    val traced = opt.getOrElse("trace", "0") == "1"
    val cores = opt("cores").toInt
    val launchMs = opt("launch-ms").toDouble
    val work = opt("work")
    val mainMs = now()

    def session(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.ui.enabled", "false")
        // the same status-store caps as graft.Bench
        .config("spark.sql.ui.retainedExecutions", "16")
        .config("spark.ui.retainedJobs", "100")
        .config("spark.ui.retainedStages", "200")
        .config("spark.ui.retainedTasks", "10000")
        .config("spark.local.dir", s"$work/local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    def register(s: SparkSession): Unit =
      Tables.names.foreach(n => Tables(s, dir).table(n).createOrReplaceTempView(n))

    // set-up 1 counts from process launch; 2 and 3 stop and rebuild the
    // session in this JVM
    var spark = session()
    val sessionMs = now()
    register(spark)
    val setups = mutable.ArrayBuffer((now() - launchMs) / 1000.0)
    for (_ <- 1 to 2) {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val t0 = nanos()
      spark = session()
      register(spark)
      setups += (nanos() - t0) / 1e9
    }

    val tracer = new Tracer
    val stream = new StreamTrace(tracer)
    spark.streams.addListener(stream)
    val sparkTrace = new SparkTrace(tracer)
    if (traced) {
      spark.sparkContext.addSparkListener(sparkTrace)
      spark.listenerManager.register(new PlanTrace(tracer))
    }

    /** Runs `body` inside a harness span; jobs it starts carry the span id. */
    def span[T](name: String, layer: String, parent: Long, attrs: Map[String, Any] = Map.empty)
        (body: Long => T): T = {
      val id = tracer.nextId()
      val prev = spark.sparkContext.getLocalProperty(SpanProp)
      spark.sparkContext.setLocalProperty(SpanProp, id.toString)
      val start = now()
      try body(id)
      finally {
        spark.sparkContext.setLocalProperty(SpanProp, prev)
        tracer.add(Span(id, name, layer, start, now(), parent, attrs))
      }
    }

    def runPass(index: Int, trace: Boolean): Pass = {
      val start = now()
      if (trace) tracer.openWindow(start)
      val t0 = nanos()
      val runs = span("pass", "bench", 0L, Map("pass" -> index)) { passId =>
        names.map { name =>
          val qStart = now()
          var buildS, execS = 0.0
          val error = span("query", "bench", passId, Map("query" -> name, "pass" -> index)) { qId =>
            try {
              val b0 = nanos()
              val df = span("queries.build", "queries", qId)(_ => SparkEntry.queries(name)(spark, dir))
              buildS = (nanos() - b0) / 1e9
              val e0 = nanos()
              span("execute", "sinks", qId) { _ =>
                df.write.format("noop").mode("overwrite").save()
              }
              execS = (nanos() - e0) / 1e9
              None
            } catch {
              case e: Throwable =>
                System.err.println(s"[perfbench] $name failed: $e")
                Some(e.toString)
            } finally spark.catalog.clearCache()
          }
          QueryRun(name, qStart, buildS, execS, error)
        }
      }
      val wall = (nanos() - t0) / 1e9
      val end = now()
      if (trace) tracer.closeWindow(end)
      Pass(index, trace, start, end, wall, runs)
    }

    // the cold pass in the fresh session is timed on its own
    val passes = mutable.ArrayBuffer(runPass(0, traced))

    // untimed oracle pass: each output written as a parquet directory. It
    // also brings the JVM to the warm state the timed passes measure.
    val oracleDir = s"$work/outputs"
    val oracle0 = nanos()
    val oracleErrors = names.flatMap { name =>
      try {
        SparkEntry.queries(name)(spark, dir).write.mode("overwrite")
          .parquet(s"$oracleDir/$name.parquet")
        None
      } catch { case e: Throwable => Some(name -> e.toString) }
      finally spark.catalog.clearCache()
    }.toMap
    Files.createDirectories(Paths.get(oracleDir))
    Files.write(Paths.get(s"$oracleDir/oracle_sql.json"), Json.obj(
      names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap).getBytes(UTF_8))
    val oracleS = (nanos() - oracle0) / 1e9

    // warm passes until `seconds` have elapsed. A traced run traces warm
    // passes in the order traced, untraced, untraced, traced, so its
    // overhead is measured in one JVM with the warm-up drift cancelled
    val warmStart = now()
    def warmCount = passes.size - 1
    while (warmCount < minWarm || (now() - warmStart) / 1000.0 < seconds ||
        (traced && warmCount < 4)) {
      System.gc()
      passes += runPass(passes.size, traced && (warmCount % 4 == 0 || warmCount % 4 == 3))
    }

    // stopping drains the listener bus, so every event is recorded below
    spark.stop()
    val rssPeakMb = procStatus("VmHWM").map(_ / 1024.0).getOrElse(-1.0)

    if (traced) {
      val lines = tracer.spans.toArray(Array.empty[Span]).sortBy(_.start).map { s =>
        Json.obj(Map("id" -> s.id, "name" -> s.name, "layer" -> s.layer, "start" -> s.start,
          "end" -> s.end, "parent" -> s.parent, "attrs" -> s.attrs))
      }
      Files.write(Paths.get(opt("spans")), (lines.mkString("\n") + "\n").getBytes(UTF_8))
    }
    val batches = stream.batches.toArray(Array.empty[Batch]).toSeq.map { b =>
      Map("end" -> b.endMs, "trigger_ms" -> b.triggerMs, "durations" -> b.durations,
        "state_rows" -> b.stateRows, "state_bytes" -> b.stateBytes,
        "state_commit_ms" -> b.stateCommitMs, "run_id" -> b.runId)
    }
    val result = Map(
      "cores" -> cores,
      "setup_s" -> setups.toSeq,
      "jvm_start_s" -> (mainMs - launchMs) / 1000.0,
      "first_session_s" -> (sessionMs - mainMs) / 1000.0,
      "oracle_pass_s" -> oracleS,
      "rss_peak_mb" -> rssPeakMb,
      "passes" -> passes.toSeq.map { p =>
        Map("index" -> p.index, "traced" -> p.traced, "start" -> p.startMs, "end" -> p.endMs,
          "wall_s" -> p.wallS, "queries" -> p.queries.map { q =>
            Map("name" -> q.name, "start" -> q.startMs, "build_s" -> q.buildS,
              "exec_s" -> q.execS, "error" -> q.error.orNull)
          })
      },
      "batches" -> batches,
      "job_concurrency" -> sparkTrace.jobConcurrency.toSeq.map { case (t, n) => Seq(t, n) },
      "oracle_errors" -> oracleErrors)
    Files.write(Paths.get(opt("out")), Json.obj(result).getBytes(UTF_8))
  }

  /** A `/proc/self/status` field in kB, if the platform has one. */
  private def procStatus(field: String): Option[Double] =
    try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith(field + ":"))
        .map(_.split("\\s+")(1).toDouble)
    } catch { case _: java.io.IOException => None }
}

/** Minimal JSON writer for the result and span files. */
object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => "\"" + str(s) + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.asInstanceOf[Map[String, Any]])
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
    case x => "\"" + str(x.toString) + "\""
  }

  def obj(m: Map[String, Any]): String =
    m.map { case (k, v) => "\"" + str(k) + "\":" + value(v) }.mkString("{", ",", "}")
}
