package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame

import graft.SparkEntry
import graft.core.{GQuery, GraftSession}
import graft.operators._

/** The benchmark's JVM side: one closed-loop client that runs a
  * workload's queries serially in one `local[nproc]` session.
  *
  * A run is: set-up (process launch to session ready, then the session
  * stopped and rebuilt `Rebuilds` times), one cold pass whose results are
  * written as parquet for the output check, warm passes through a noop
  * sink until `--seconds` have passed (at least `MinWarmPasses`), and a second
  * execution of every rows-only query for the digest check. A listener
  * counts the Spark jobs, tasks, input rows and shuffle bytes each
  * untraced warm pass launches, and each query's wall time and the CPU
  * time of the Java threads (driver, scheduler, tasks) are recorded. With
  * `--trace 1` the warm passes are a traced, an untraced and a traced
  * pass, followed by the layer probes; the traced passes time each
  * layer call (build = `q.fn`, plan = `executedPlan`, execute = noop
  * write) and a listener files Spark's job, stage and task counts under
  * the span that launched them.
  *
  * Everything measured goes to `<out>/result.json` (and, traced, the
  * spans to `<out>/spans.json`); perfbench/run.py turns it into the
  * benchmark's result line.
  */
object Harness {

  val Modules: Seq[(String, Seq[GQuery])] = Seq(
    "relational" -> Relational.all, "text" -> TextQueries.all,
    "dedup" -> Dedup.all, "similarity" -> Similarity.all,
    "window" -> WindowQueries.all, "ml" -> MlQueries.all)

  private def moduleOf(q: GQuery): String =
    Modules.collectFirst { case (m, qs) if qs.exists(_.name == q.name) => m }.get

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  private def cpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** CPU time of every live Java thread, by thread id: the driver,
    * Spark's scheduler and executor task threads, but not the JVM's own
    * JIT compiler and GC threads, which are not Java threads. */
  def javaThreadCpuNs(): Map[Long, Long] = {
    val tm = ManagementFactory.getThreadMXBean
    tm.getAllThreadIds.iterator.map(id => id -> tm.getThreadCpuTime(id)).filter(_._2 >= 0).toMap
  }

  /** Java-thread CPU spent since `before`; a thread born since counts
    * from zero, one that ended since is lost (Spark's pools keep theirs). */
  def javaCpuSinceNs(before: Map[Long, Long]): Long =
    javaThreadCpuNs().iterator.map { case (id, ns) => ns - before.getOrElse(id, 0L) }.sum

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum

  /** Session rebuilds after the first set-up; each is one more sample. */
  val Rebuilds = 10

  /** Warm passes every untraced run makes, whatever `--seconds` says. */
  val MinWarmPasses = 3

  /** Heap still reachable after a full collection: what the session
    * keeps alive between queries. Taken at a fixed point of the run
    * (after the last of the `MinWarmPasses`) so runs compare. */
  private def liveHeapAfterGcMb(): Double = {
    // the first collection lets Spark's ContextCleaner drop broadcast
    // and shuffle state that only weak references still reach; the
    // later ones free what it dropped
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0 }.getOrElse(0.0)

  private def parseArgs(args: Array[String]): Map[String, String] =
    args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap

  def main(args: Array[String]): Unit = {
    val a = parseArgs(args)
    val launchMs = a("launch-ms").toLong
    val dataDir = a("data")
    val outDir = a("out")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val prefixes = a("queries").split(",").toSeq
    val queries = prefixes.map(p => SparkEntry.inventory.find(_.name.startsWith(p + "_"))
      .getOrElse(sys.error(s"no query $p")))

    // set-up: launch -> ready, then `Rebuilds` rebuilds of the session
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark = GraftSession.builder().getOrCreate()
    setups += (System.currentTimeMillis() - launchMs) / 1e3
    for (_ <- 1 to Rebuilds) {
      spark.stop()
      val t0 = System.nanoTime()
      spark = GraftSession.builder().getOrCreate()
      setups += (System.nanoTime() - t0) / 1e9
    }
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext

    val failures = mutable.LinkedHashMap.empty[String, String]
    def attempt(q: GQuery)(body: => Unit): Unit =
      try body
      catch {
        case e: Throwable =>
          val msg = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"
          failures.getOrElseUpdate(q.name, msg.take(300))
          System.err.println(s"[graftbench] ${q.name} failed: $msg")
      }
    def order(pass: Int): Seq[GQuery] = new scala.util.Random(seed * 1000003L + pass).shuffle(queries)
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    // cold pass: the first execution of every query, results kept for the check
    val coldT0 = System.nanoTime()
    val coldMs = order(0).map { q =>
      val t0 = System.nanoTime()
      attempt(q)(q.fn(spark, dataDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/outputs/${q.name}"))
      q.name -> (System.nanoTime() - t0) / 1e6
    }.toMap
    val coldS = (System.nanoTime() - coldT0) / 1e9

    final case class Pass(pass: Int, traced: Boolean, wallS: Double, cpuS: Double,
                          queryMs: Map[String, Double], queryCpuMs: Map[String, Double])
    val passes = mutable.ArrayBuffer.empty[Pass]
    val tracer = new Tracer(sc)
    val listener = new CountingListener
    val execGcMs = mutable.Map.empty[Int, Long] // exec span id -> JVM GC ms inside it
    def passTag(pass: Int): Int = -pass // span ids are positive
    sc.addSparkListener(listener)

    def tracedQuery(q: GQuery, pass: Int): Unit = {
      val m = moduleOf(q)
      tracer.span("query", m, q.name, pass) {
        val df = tracer.span("build", m, q.name, pass)(q.fn(spark, dataDir))
        tracer.span("plan", m, q.name, pass)(df.queryExecution.executedPlan)
        val gc0 = gcMs()
        tracer.span("exec", m, q.name, pass)(noop(df))
        execGcMs(tracer.spans.last.id) = gcMs() - gc0
      }
    }

    def runPass(pass: Int, withTrace: Boolean): Unit = {
      val cpu0 = cpuNs()
      val t0 = System.nanoTime()
      val queryCpu = mutable.Map.empty[String, Double]
      // an untraced pass tags its jobs with the pass, so the listener
      // counts what the whole pass launched
      if (!withTrace) sc.setLocalProperty(Tracer.Tag, passTag(pass).toString)
      val per = order(pass).map { q =>
        val c0 = javaThreadCpuNs()
        val q0 = System.nanoTime()
        attempt(q)(if (withTrace) tracedQuery(q, pass) else noop(q.fn(spark, dataDir)))
        val ms = (System.nanoTime() - q0) / 1e6
        queryCpu(q.name) = javaCpuSinceNs(c0) / 1e6
        q.name -> ms
      }.toMap
      sc.setLocalProperty(Tracer.Tag, null)
      passes += Pass(pass, withTrace, (System.nanoTime() - t0) / 1e9, (cpuNs() - cpu0) / 1e9, per,
        queryCpu.toMap)
    }

    var liveHeapMb = 0.0
    if (!traced) {
      val warmT0 = System.nanoTime()
      var p = 1
      while (p <= MinWarmPasses || (System.nanoTime() - warmT0) / 1e9 < seconds) {
        runPass(p, withTrace = false)
        if (p == MinWarmPasses) liveHeapMb = liveHeapAfterGcMb()
        p += 1
      }
    } else {
      // traced, untraced, traced: the untraced pass sits between the
      // two it is compared with, so warm-up drift cancels out of the
      // tracing overhead
      runPass(1, withTrace = true)
      runPass(2, withTrace = false)
      runPass(3, withTrace = true)
    }

    org.apache.spark.graftbench.ListenerBusDrain.drain(sc)
    val passCounts = passes.filterNot(_.traced).map { p =>
      val c = listener.of(passTag(p.pass))
      Map[String, Any]("pass" -> p.pass, "jobs" -> c.jobs, "tasks" -> c.tasks,
        "input_rows" -> c.inputRows, "shuffle_write_bytes" -> c.shuffleWriteBytes).asJava
    }

    // rows-only queries run once more so the check can compare digests
    val rowsOnly = queries.filter(_.oracle.isEmpty)
    rowsOnly.foreach(q => attempt(q)(q.fn(spark, dataDir).coalesce(1).write
      .mode("overwrite").parquet(s"$outDir/outputs2/${q.name}")))

    val result = mutable.LinkedHashMap[String, Any](
      "seed" -> seed,
      "queries" -> queries.map(_.name).asJava,
      "rows_only" -> rowsOnly.map(_.name).asJava,
      "oracle_sql" -> queries.flatMap(q => q.oracle.map(q.name -> _)).toMap.asJava,
      "setup_s" -> setups.asJava,
      "cold_pass_s" -> coldS,
      "cold_query_ms" -> coldMs.asJava,
      "passes" -> passes.map(p => Map[String, Any]("pass" -> p.pass, "traced" -> p.traced,
        "wall_s" -> p.wallS, "cpu_s" -> p.cpuS, "query_ms" -> p.queryMs.asJava,
        "query_cpu_ms" -> p.queryCpuMs.asJava).asJava).asJava,
      "pass_counts" -> passCounts.asJava,
      "failures" -> failures.asJava,
      "env" -> Map[String, Any](
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version"),
        "java_vm" -> System.getProperty("java.vm.name"),
        "master" -> sc.master,
        "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
          .filter(s => s.startsWith("-X")).asJava,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024)).asJava)

    if (traced) {
      val probes = new Probes(spark, tracer, a("probe-data"))
      val tableMs = probes.tables(dataDir, a("tables").split(",").toSeq)
      val (trainMs, code) = probes.codebookTrain()
      val kernels = probes.kernels(code)
      org.apache.spark.graftbench.ListenerBusDrain.drain(sc)
      result("layers") = Layers.summarize(tracer, listener, execGcMs.toMap, passes.toSeq
        .map(p => (p.pass, p.traced, p.wallS)), sc.defaultParallelism,
        tableMs, kernels, trainMs).asJava
      Files.writeString(Paths.get(s"$outDir/spans.json"),
        new ObjectMapper().writeValueAsString(tracer.toJson.asJava))
    }
    spark.stop()
    result("live_heap_mb") = liveHeapMb
    result("peak_rss_mb") = peakRssMb()
    Files.writeString(Paths.get(s"$outDir/result.json"),
      new ObjectMapper().writerWithDefaultPrettyPrinter().writeValueAsString(result.asJava))
  }
}
