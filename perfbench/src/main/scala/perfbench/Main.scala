package perfbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.{GraftSession, SparkEntry}
import graft.catalog.Lake
import graft.operators.{CatalogOps, Graph}
import graft.sources.Ingest
import graft.sparql.Sparql

/** Single-client, closed-loop load generator for graft.
  *
  * Reads a plan written by `run.py` (workload inputs are generated
  * there, from the seed), drives graft through its public entry points
  * and writes one JSON record per line: the cold set-up, every op with
  * its latency and outcome, and in traced mode the spans, jobs and
  * stages. Metrics and correctness checks are computed from the
  * records by `run.py`.
  *
  * usage: perfbench.Main --plan <plan.json> --out <records.jsonl>
  *        perfbench.Main --dump-oracle <oracle_sql.json>
  */
object Main {
  private val json = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    opts.get("--dump-oracle") match {
      case Some(path) =>
        val node = json.createObjectNode()
        SparkEntry.oracleSql.foreach { case (k, v) => node.put(k, v) }
        json.writeValue(new File(path), node)
      case None =>
        val plan = json.readTree(new File(opts("--plan")))
        val out = new PrintWriter(opts("--out"), "UTF-8")
        try new Run(plan, out).run()
        finally out.close()
    }
  }
}

final class Run(plan: JsonNode, out: PrintWriter) {
  private val json = new ObjectMapper()
  private val cores = plan.get("cores").asInt()
  private val seconds = plan.get("seconds").asDouble()
  private val traceMode = plan.get("trace").asBoolean()
  private val warmPasses = plan.get("warm_passes").asInt()
  private val minPasses = plan.get("min_passes").asInt()
  private val lakeDir = plan.get("lake_dir").asText()
  private val workDir = plan.get("work_dir").asText()
  private val passes = plan.get("passes").elements().asScala.toVector

  private val tracer = new Tracer
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private var spark: SparkSession = _
  private var ordersSchema: StructType = _
  private var commits = 0
  private var opId = 0L

  private def emit(node: ObjectNode): Unit = out.println(json.writeValueAsString(node))
  private def obj(kind: String): ObjectNode = json.createObjectNode().put("type", kind)
  private def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6

  def run(): Unit = {
    tracer.setEnabled(traceMode)
    tracer.span("run") {
      setup()
      ordersSchema = Lake(spark, lakeDir).orders.schema
      // Warm-up passes run off the clock: the JVM, codegen and file
      // caches settle (in a traced run, with the tracer on, so its own
      // code warms too). Pass 0 is also the pass whose outputs are
      // checked in full. Then ops are measured, pass after pass, while
      // fewer than `seconds` have passed, and until at least `min_passes`
      // whole passes ran. Stopping at an op, not at a pass, keeps a run's
      // sample from jumping by a whole pass of warmer ops when the box's
      // speed moves across a pass boundary; pass metrics use the whole
      // passes only. A traced run traces measured passes in the order
      // traced, untraced, untraced, traced (and again), so the run
      // measures its own tracing overhead, and a linear warming trend
      // cancels out of it.
      (0 until warmPasses).foreach(p => runPass(p, passes(p), measured = false))
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      var p = warmPasses
      var whole = 0
      var more = true
      while (p < passes.size && more) {
        tracer.setEnabled(traceMode && Set(0, 3).contains((p - warmPasses) % 4))
        more = runPass(p, passes(p), measured = true, whole < minPasses || elapsed < seconds)
        if (more) whole += 1
        p += 1
      }
      tracer.setEnabled(traceMode)
      emit(obj("end").put("measure_s", elapsed).put("first_pass", warmPasses)
        .put("passes", whole))
    }
    if (traceMode) writeTrace()
    spark.stop()
  }

  /** Open the session and register the catalog, cold: this JVM has
    * not loaded Spark or graft before, as for every `graft.Cli query`.
    * The session stays open for the workload. */
  private def setup(): Unit = {
    val jvmUp = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val t0 = System.nanoTime()
    tracer.span("setup") {
      tracer.span("session.open") {
        spark = GraftSession
          .configure(SparkSession.builder().master(s"local[$cores]"), cores)
          .config("spark.local.dir", s"$workDir/spark-local")
          .getOrCreate()
      }
    }
    spark.sparkContext.setLogLevel("WARN")
    tracer.sc = spark.sparkContext
    if (traceMode) spark.sparkContext.addSparkListener(new JobListener(jobs, stages))
    val t1 = System.nanoTime()
    tracer.span("catalog.register") { Lake(spark, lakeDir).registerViews() }
    val t2 = System.nanoTime()
    emit(obj("setup").put("jvm_start_s", jvmUp).put("open_s", (t1 - t0) / 1e9)
      .put("register_s", (t2 - t1) / 1e9).put("setup_s", (t2 - t0) / 1e9))
  }

  /** Run the ops of pass `p` in order while `more` holds before each;
    * true if the whole pass ran. */
  private def runPass(p: Int, ops: JsonNode, measured: Boolean,
      more: => Boolean = true): Boolean = {
    val todo = ops.elements().asScala.zipWithIndex
    while (todo.hasNext && more) {
      val (op, i) = todo.next()
      opId += 1
      tracer.op = opId
      val kind = op.get("kind").asText()
      val name = op.get("name").asText()
      val rec = obj("op").put("id", opId).put("pass", p).put("idx", i)
        .put("kind", kind).put("name", name).put("measured", measured)
        .put("traced", tracer.enabled)
      val t0 = System.nanoTime()
      try {
        tracer.span("op") {
          kind match {
            case "query"  => query(rec, name, check = p == 0)
            case "sql"    => read(rec, "catalog.analyze", spark.sql(op.get("text").asText()))
            case "sparql" => read(rec, "sparql.build", sparql(op.get("text").asText()))
            case "commit" => commit(rec, op)
            case other    => throw new IllegalArgumentException(s"unknown op kind $other")
          }
        }
        rec.put("ok", true)
      } catch {
        case NonFatal(e) =>
          rec.put("ok", false).put("err",
            s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").takeWhile(_ != '\n').take(300)}")
      }
      rec.put("t0_ns", t0).put("ms", ms(t0, System.nanoTime()))
      tracer.op = -1
      // Off the clock, as graft.Bench does: cached blocks of one op must
      // neither serve nor slow the next.
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      emit(rec)
    }
    !todo.hasNext
  }

  private def sparql(text: String): DataFrame =
    Sparql.run(Graph.triples(Lake(spark, lakeDir)), text)

  /** A pipeline operator: build the frame, plan it, write its output
    * into the noop sink. The checked pass writes parquet instead, for
    * the oracle. The output write's latency is the op's `write_ms`. */
  private def query(rec: ObjectNode, name: String, check: Boolean): Unit =
    tracer.span("operators.build") {
      val df = SparkEntry.queries(name)(spark, lakeDir)
      tracer.span("catalyst.plan") { if (tracer.enabled) df.queryExecution.executedPlan }
      val t0 = System.nanoTime()
      tracer.span("exec") {
        if (check) df.write.mode("overwrite").parquet(s"$workDir/check/$name")
        else df.write.mode("overwrite").format("noop").save()
      }
      rec.put("write_ms", ms(t0, System.nanoTime()))
    }

  /** An analyst read: build the frame (SQL analysis or SPARQL
    * translation), plan it, collect the rows the client sees. */
  private def read(rec: ObjectNode, build: String, make: => DataFrame): Unit = {
    val rows = tracer.span(build) {
      val df = make
      tracer.span("catalyst.plan") { if (tracer.enabled) df.queryExecution.executedPlan }
      tracer.span("exec") { df.collect() }
    }
    val arr = rec.putArray("rows")
    rows.foreach(r => arr.add(rowJson(r)))
  }

  private def rowJson(r: Row): ArrayNode = {
    val a = json.createArrayNode()
    (0 until r.length).foreach(i => addValue(a, r.get(i)))
    a
  }

  private def addValue(a: ArrayNode, v: Any): Unit = v match {
    case null                        => a.addNull()
    case x: Boolean                  => a.add(x)
    case x: Int                      => a.add(x)
    case x: Long                     => a.add(x)
    case x: Short                    => a.add(x.toInt)
    case x: Byte                     => a.add(x.toInt)
    case x: Double if x.isNaN        => a.addNull()
    case x: Double                   => a.add(x)
    case x: Float                    => a.add(x.toDouble)
    case x: java.math.BigDecimal     => a.add(x.doubleValue())
    case x: scala.math.BigDecimal    => a.add(x.toDouble)
    case x: String                   => a.add(x)
    case x: scala.collection.Seq[_]  => val n = a.addArray(); x.foreach(addValue(n, _))
    case x: Row                      => a.add(rowJson(x))
    case x                           => a.add(x.toString)
  }

  /** A commit: land the batch file, read it, upsert it into `orders`,
    * write the new version beside the lake, swap it in, re-register
    * the catalog, and check the reader sees the new version. */
  private def commit(rec: ObjectNode, op: JsonNode): Unit = {
    commits += 1
    val landing = Paths.get(lakeDir, "_landing")
    Files.createDirectories(landing)
    val landed = landing.resolve(s"batch_$commits.jsonl")
    Files.copy(Paths.get(op.get("batch").asText()), landed, StandardCopyOption.REPLACE_EXISTING)
    val phase = rec.putObject("phase")
    def timed[T](key: String, span: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val v = tracer.span(span)(body)
      phase.put(key, ms(t0, System.nanoTime()))
      v
    }
    val batch = timed("read_ms", "sources.read") {
      val rows = Ingest.readJsonl(spark, landed.toString, ordersSchema).collect()
      spark.createDataFrame(rows.toSeq.asJava, ordersSchema)
    }
    val staged = s"$workDir/staging/orders_v$commits"
    timed("upsert_write_ms", "catalogops.upsert_write") {
      val merged = CatalogOps.upsert(Lake(spark, lakeDir).orders, batch, "o_orderkey")
        .drop("merge_src")
      Ingest.writeParquet(merged, staged, 2)
    }
    val files = new File(staged).listFiles().filter(_.getName.endsWith(".parquet"))
    phase.put("files_written", files.length).put("bytes_written", files.map(_.length).sum)
    val live = Paths.get(lakeDir, "orders.parquet")
    val retired = Paths.get(workDir, "staging", s"retired_v$commits")
    Files.move(live, retired, StandardCopyOption.ATOMIC_MOVE)
    Files.move(Paths.get(staged), live, StandardCopyOption.ATOMIC_MOVE)
    timed("register_ms", "catalog.register") { Lake(spark, lakeDir).registerViews() }
    val got = timed("check_ms", "commit.check") {
      spark.sql("SELECT count(*), sum(CAST(round(o_totalprice * 100) AS BIGINT)) " +
        "FROM trade.orders").collect().head
    }
    val expect = op.get("expect")
    val (n, cents) = (got.getLong(0), got.getLong(1))
    deleteTree(retired.toFile)
    if (n != expect.get(0).asLong() || cents != expect.get(1).asLong())
      throw new IllegalStateException(
        s"read-your-write mismatch: got ($n, $cents), expected ($expect)")
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def writeTrace(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    tracer.spans.foreach { s =>
      emit(obj("span").put("id", s.id).put("parent", s.parent).put("name", s.name)
        .put("op", s.op).put("t0", s.t0).put("t1", s.t1))
    }
    jobs.asScala.foreach { j =>
      val n = obj("job").put("id", j.jobId).put("span", j.span).put("t0", j.t0)
        .put("t1", j.t1).put("ok", j.ok)
      val a = n.putArray("stages")
      j.stages.foreach(a.add(_))
      emit(n)
    }
    stages.asScala.foreach { s =>
      emit(obj("stage").put("id", s.stageId).put("attempt", s.attempt).put("job", s.jobId)
        .put("span", s.span).put("t0", s.t0).put("t1", s.t1).put("tasks", s.tasks)
        .put("tasks_failed", s.tasksFailed).put("run_ms", s.runMs).put("cpu_ns", s.cpuNs)
        .put("sched_delay_ms", s.schedDelayMs).put("shuffle_read", s.shuffleRead)
        .put("shuffle_write", s.shuffleWrite).put("spill", s.spill).put("input", s.input)
        .put("gc_ms", s.gcMs).put("peak_mem", s.peakMem))
    }
  }
}
