package graft

import graft.core.{GQuery, GraftSession}
import scala.collection.mutable

/** Benchmark main: runs the declared queries on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric":...}. Each query is executed fully
  * through a noop sink (count() would let Catalyst prune the plan to a
  * row-count over the scan, which is not the work being measured).
  *
  * One loop walks a schedule of (query, rep) runs; rep 0 is an untimed
  * warmup (JIT/codegen/scan cache), every later rep is timed and its
  * jobs are tagged `bench:<query>`. The default schedule is
  * query-major: per query, the warmup and then `Reps` timed runs. The
  * reported per-query number is the MEDIAN, with the min alongside in
  * `queries_min`, every rep in `queries_reps`, and the GC wall-clock
  * charged to the timed reps in `queries_gc_ms` — so a one-off rep
  * swing is attributable (GC vs plan) from the artifact alone. The
  * cache is cleared after every run so one query's persisted frames
  * can't tax the next. A query that throws in any run lands in
  * `errors`, is dropped from the rest of the schedule and reports no
  * timing.
  *
  * Interleaved A/B mode (measurement tooling; the driver never sets
  * it, so its contract run is unchanged): when `SPARK_GRAFT_AB` is a
  * comma-separated subset of query names, ONLY those queries run. The
  * schedule is every warmup first, then `AbReps` rounds of timed runs
  * round-robin (a,b,a,b,…) within the one session — the only
  * per-query comparison that survives this host's ±25% cross-run
  * drift. Same one-line JSON, plus an `"ab":true` marker; `"reps"` is
  * the timed-rep count of the schedule that ran. A name that is not a
  * declared query fails the run before the session starts.
  */
object Bench {
  private val Reps = 3
  private val AbReps = 7

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    s(s.length / 2)
  }

  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum
  }

  /** The queries an `SPARK_GRAFT_AB` value selects: all of them when it
    * is unset; throws, listing them, on names that are not declared. */
  def selected(ab: Option[String]): Seq[GQuery] = ab.fold(SparkEntry.inventory) { names =>
    val sel = names.split(",").map(_.trim).filter(_.nonEmpty).toSet
    val unknown = sel -- SparkEntry.inventory.map(_.name)
    require(unknown.isEmpty, s"unknown SPARK_GRAFT_AB queries: ${unknown.toSeq.sorted.mkString(", ")}")
    SparkEntry.inventory.filter(q => sel(q.name))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val abSel = sys.env.get("SPARK_GRAFT_AB")
    val headline = selected(abSel)
    val spark = GraftSession.local()
    val reps = if (abSel.isDefined) AbReps else Reps
    val schedule: Seq[(GQuery, Int)] =
      if (abSel.isDefined)
        headline.map(q => (q, 0)) ++ (1 to reps).flatMap(r => headline.map(q => (q, r)))
      else headline.flatMap(q => (0 to reps).map(r => (q, r)))

    val times = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val gcMs = mutable.LinkedHashMap.empty[String, Double]
    val errors = mutable.LinkedHashMap.empty[String, String]

    for ((q, rep) <- schedule if !errors.contains(q.name)) {
      try {
        if (rep > 0) spark.sparkContext.setJobDescription(s"bench:${q.name}")
        val gc0 = gcMillis()
        val t0 = System.nanoTime()
        q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        if (rep > 0) {
          times.getOrElseUpdate(q.name, mutable.ArrayBuffer.empty) +=
            (System.nanoTime() - t0) / 1e9
          gcMs(q.name) = gcMs.getOrElse(q.name, 0.0) + (gcMillis() - gc0)
        }
      } catch {
        case e: Throwable =>
          errors(q.name) = Option(e.getMessage).getOrElse(e.getClass.getName)
          System.err.println(s"[bench] ${q.name} failed: ${errors(q.name)}")
      } finally {
        spark.sparkContext.setJobDescription(null)
        // a query that persists frames must not bill the next one
        spark.catalog.clearCache()
      }
    }
    errors.keys.foreach { k => times.remove(k); gcMs.remove(k) }

    def jnum(m: collection.Map[String, Double]): String =
      m.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    def jarr(m: collection.Map[String, collection.Seq[Double]]): String =
      m.map { case (k, vs) =>
        "\"" + k + "\":" + vs.map(v => f"$v%.3f").mkString("[", ",", "]")
      }.mkString("{", ",", "}")
    def jstr(m: collection.Map[String, String]): String =
      m.map { case (k, v) =>
        "\"" + k + "\":\"" + v.replaceAll("[\\\\\"\\n\\r\\t]", " ").take(120) + "\""
      }.mkString("{", ",", "}")

    val medians = times.map { case (k, ts) => k -> median(ts.toSeq) }
    val mins = times.map { case (k, ts) => k -> ts.min }
    val total = medians.values.sum
    val abMarker = if (abSel.isDefined) """"ab":true,""" else ""
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,""" +
        s"""$abMarker"queries":${jnum(medians)},"queries_min":${jnum(mins)},""" +
        s""""queries_reps":${jarr(times)},"queries_gc_ms":${jnum(gcMs)},""" +
        s""""errors":${jstr(errors)},"sf":"$sfDir"}""")
    spark.stop()
  }
}
