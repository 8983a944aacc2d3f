package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge

/** Local perf iteration: time a handful of queries by name without
  * paying for the whole suite. Same measurement discipline as Bench
  * (its warm-up, noop sink, blocking cache release after each sweep,
  * min of N sweeps).
  *
  * Each line also carries the last sweep's jobs, stages, tasks, classes
  * compiled and task run time. Every Spark job pays a fixed scheduling
  * floor (~0.1-0.3 s in local mode), so for the iterative operators the
  * job count is the cost model; unlike wall clock it does not move with
  * background load, which makes it the way to A/B a driver-loop
  * change across two builds. `compiled` is the same kind of counter
  * for the codegen layer: the classes Janino compiled in the sweep
  * (Spark's compile-time histogram count), 0 once every generated
  * class of the query is held by the session's class cache.
  *
  * usage: graft.BenchOne <query> [query ...]
  * env:   SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_SWEEPS,
  *        SPARK_GRAFT_MASTER
  */
object BenchOne {

  /** Jobs started, stages completed, their tasks and task run time
    * (ms), and classes compiled, since the last reset. */
  private final class Counters extends SparkListener {
    val jobs, stages, tasks, taskMs = new AtomicLong
    private var compiledAtReset = 0L
    private def compiledTotal = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    override def onJobStart(j: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      tasks.addAndGet(s.stageInfo.numTasks)
      taskMs.addAndGet(s.stageInfo.taskMetrics.executorRunTime)
    }
    def reset(): Unit = {
      Seq(jobs, stages, tasks, taskMs).foreach(_.set(0))
      compiledAtReset = compiledTotal
    }
    def summary: String =
      f"jobs=${jobs.get}%3d stages=${stages.get}%3d tasks=${tasks.get}%4d " +
        f"compiled=${compiledTotal - compiledAtReset}%3d task_s=${taskMs.get / 1000.0}%.2f"
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.BenchOne <query> [query ...]")
    SparkEntry.requireKnown(args)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val sweeps = sys.env.getOrElse("SPARK_GRAFT_SWEEPS", "3").toInt
    // SPARK_GRAFT_MASTER overrides the in-process master — the
    // multi-executor validation knob: `local-cluster[4,8,8192]` runs
    // REAL worker JVMs (serialized shuffle blocks, broadcast over the
    // block manager, per-executor memory), the closest this sandbox
    // gets to cluster execution. local[N] shares one heap and one
    // block manager, so serde-sensitive plan behavior is invisible to
    // it. Requires SPARK_HOME (worker launch scripts) AND
    // SPARK_SCALA_VERSION=2.13 (without it the executor launcher
    // dies with "Cannot find any build directories" — it probes
    // $SPARK_HOME/launcher/target, a source-tree layout the binary
    // distro lacks); application classes reach the executors via
    // extraClassPath (same box).
    val spark = sys.env.get("SPARK_GRAFT_MASTER") match {
      case None => GraftSession.local(cpus, cpus)
      case Some(master) =>
        val builder = SparkSession.builder().master(master)
        if (master.startsWith("local-cluster")) {
          val classes = new java.io.File("target/scala-2.13/classes").getAbsolutePath
          builder
            .config("spark.executor.extraClassPath", classes)
            .config("spark.executor.memory",
              sys.env.getOrElse("SPARK_GRAFT_EXEC_MEM", "8g"))
        }
        GraftSession.configure(builder, cpus).getOrCreate()
    }
    spark.sparkContext.setLogLevel("WARN")
    Bench.warmUp(spark, sfDir)
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    for (name <- args) {
      val fn = SparkEntry.queries(name)
      var last = ""
      val times = (1 to sweeps).map { _ =>
        Bridge.drainListeners(spark.sparkContext)
        counters.reset()
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        val dt = (System.nanoTime() - t0) / 1e9
        Bridge.drainListeners(spark.sparkContext)
        last = counters.summary
        Bench.releaseCaches(spark)
        dt
      }
      println(f"$name%-30s min=${times.min}%.3f  $last  all=${times.map(t => f"$t%.3f").mkString(",")}")
    }
    spark.stop()
  }
}
