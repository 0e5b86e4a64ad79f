package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The board workload: driver-contract queries, each timed as construct
  * (`SparkEntry.queries(q)(spark, dir)`) and execute (a write to Spark's
  * `noop` sink, which materializes every output row and column).
  */
object Board {

  /** The session confs `graft.Bench` sets, in its order. `selftest.py`
    * compares this list with Bench.scala, so a drift fails the self-test.
    */
  def confs(cpus: String): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.shuffle.sort.bypassMergeThreshold" -> "0",
    "spark.sql.codegen.cache.maxEntries" -> "20000",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64KB",
    "spark.sql.join.preferSortMergeJoin" -> "false",
    "spark.ui.enabled" -> "false")

  import Harness.{emit, secs}

  /** In an untraced pass a query repeats until it has taken this long, and
    * the repetition with the median construct + execute is reported, so a
    * query of 0.2 s gives as steady a figure as one of 3 s.
    */
  val MinQueryS = 0.5

  /** Warm-up passes on `warm`, then timed passes on `data` for `seconds`.
    * With a spans file, the middle of three passes is traced, so one run
    * measures the tracing overhead against the passes on either side. A
    * traced pass runs each query once.
    */
  def run(data: String, warm: String, names: Seq[String], warmPasses: Int, seconds: Double,
      spansOut: Option[java.io.File], withCount: Boolean): Unit = {
    val trace = spansOut.isDefined
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = confs(cpus).foldLeft(SparkSession.builder().master(s"local[$cpus]")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val listener = new SpanListener
    val queries = names.map(n => n -> graft.SparkEntry.queries(n))

    def phase(q: String, fn: (SparkSession, String) => DataFrame,
        dir: String): (Double, Double, Seq[Long]) = {
      val ((df, c), cSpan) = Trace.within("phase", s"$q.construct", "SparkEntry") {
        val t0 = System.nanoTime(); val df = fn(spark, dir); (df, secs(t0))
      }
      val (e, eSpan) = Trace.within("phase", s"$q.execute", "engine") {
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        secs(t0)
      }
      graft.ops.CacheScope.releaseAll()
      (c, e, Seq(cSpan.id, eSpan.id))
    }

    // set-up: warm the JIT and the codegen cache on the small tables
    for (_ <- 1 to warmPasses; (q, fn) <- queries) phase(q, fn, warm)
    emit("event" -> "setup", "setup_s" -> Harness.jvmUptimeS)

    val t0 = System.nanoTime()
    var pass = 0
    while (pass == 0 || secs(t0) < seconds || (trace && pass < 3)) {
      val traced = trace && pass == 1
      if (traced) spark.sparkContext.addSparkListener(listener)
      val c0 = Harness.cpuS
      val perQuery = queries.map { case (q, fn) =>
        val r = try {
          val reps = scala.collection.mutable.ArrayBuffer[(Double, Double, Seq[Long])]()
          val q0 = System.nanoTime()
          do reps += phase(q, fn, data) while (!traced && secs(q0) < MinQueryS)
          val (c, e, spans) = reps.sortBy(r => r._1 + r._2).apply(reps.size / 2)
          Map("construct_s" -> c, "execute_s" -> e, "reps" -> reps.size, "spans" -> spans)
        } catch {
          case err: Exception =>
            graft.ops.CacheScope.releaseAll()
            Map("construct_s" -> 0.0, "execute_s" -> 0.0, "spans" -> Seq.empty[Long],
              "error" -> String.valueOf(err.getMessage).take(300))
        }
        if (traced) SpanListener.drain()
        q -> r
      }
      val cpu = Harness.cpuS - c0
      if (traced) spark.sparkContext.removeSparkListener(listener)
      emit("event" -> "pass", "i" -> pass, "traced" -> traced, "cpu_s" -> cpu,
        "queries" -> perQuery.toMap)
      pass += 1
      System.gc()
    }
    if (withCount) {
      // the count() timing the BENCH_rNN history used, beside noop
      val counts = queries.map { case (q, fn) =>
        val t = System.nanoTime(); fn(spark, data).count()
        val c = secs(t); graft.ops.CacheScope.releaseAll(); q -> c
      }.toMap
      emit("event" -> "count", "count_s" -> counts)
    }
    spansOut.foreach(Trace.writeJsonl)
    spark.stop()
  }
}
