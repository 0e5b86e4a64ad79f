package perfbench

import java.io.{ByteArrayOutputStream, File, PrintStream}
import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** Benchmark entry points that need a JVM, reporting as `@@{json}` lines
  * on stdout; `perfbench/run.py` turns them into metrics and checks.
  *
  *   pipeline <work-dir> <spans-file|->
  *                              the daily batch: LoadMain, AnnotateMain and
  *                              Clinvar2VcfMain in order, in this fresh JVM;
  *                              traced, it then times the ingest probe
  *   base <work-dir>            day 1 into an empty store, reloaded to
  *                              convergence and annotated (the day-1 store)
  *   board <data> <warm> <q1,q2,..> <warm-passes> <seconds> <spans-file|->  [count]
  *   guard <work-dir>           day 1 to convergence, then the day-3 release
  *   reannotate <work-dir>      day 1, annotate, annotate again
  */
object Harness {

  def emit(fields: (String, Any)*): Unit = {
    println("@@" + Json(fields.toMap))
    System.out.flush()
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def jvmUptimeS: Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  def cpuS: Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def main(args: Array[String]): Unit = args.toList match {
    case "pipeline" :: work :: spans :: Nil =>
      pipeline(new File(work), Option(spans).filter(_ != "-").map(new File(_)))
    case "base" :: work :: Nil => base(new File(work))
    case "board" :: data :: warm :: qs :: warmPasses :: seconds :: spans :: rest =>
      Board.run(data, warm, qs.split(",").toSeq, warmPasses.toInt, seconds.toDouble,
        Option(spans).filter(_ != "-").map(new File(_)), rest.headOption.contains("count"))
    case "guard" :: work :: Nil => guard(new File(work))
    case "reannotate" :: work :: Nil => reannotate(new File(work))
    case _ =>
      System.err.println("usage: see perfbench/README.md"); sys.exit(2)
  }

  /** Runs one CLI main, capturing what it prints; returns (lines, wall s). */
  private def runMain(main: Array[String] => Unit, args: String*): (Seq[String], Double) = {
    val buf = new ByteArrayOutputStream()
    val t0 = System.nanoTime()
    Console.withOut(new PrintStream(buf, true, "UTF-8"))(main(args.toArray))
    (buf.toString("UTF-8").split("\n").toSeq.filter(_.nonEmpty), secs(t0))
  }

  private val Counter = """\[(load|annotate)\] (\S+)\.(\S+): (\d+)""".r

  private def counters(lines: Seq[String]): Map[String, Long] = lines.collect {
    case Counter(_, entity, action, n) => s"$entity.$action" -> n.toLong
  }.toMap

  private def load(xml: File, store: File) =
    runMain(graft.pipelines.LoadMain.main, xml.getPath, store.getPath)
  private def annotate(store: File, dims: File) =
    runMain(graft.pipelines.AnnotateMain.main, store.getPath, dims.getPath)

  private def deleteTree(f: File): Unit =
    if (f.exists()) {
      Files.walk(f.toPath).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.delete(p))
    }

  /** The day-2 release through the three CLI mains against `work/store`.
    * Each main builds and stops its own session, as it does when run
    * alone; with a spans file, every session carries a [[SpanListener]].
    */
  private def pipeline(work: File, spans: Option[File]): Unit = {
    val store = new File(work, "store")
    if (spans.isDefined) sys.props("spark.extraListeners") = classOf[SpanListener].getName
    val steps = Seq[(String, () => (Seq[String], Double))](
      "load" -> (() => load(new File(work, "day2.xml"), store)),
      "annotate" -> (() => annotate(store, new File(work, "dims"))),
      "export" -> (() => runMain(graft.pipelines.Clinvar2VcfMain.main,
        store.getPath, new File(work, "vcf").getPath)))
    steps.foreach { case (name, step) =>
      val c0 = cpuS
      val ((out, wall), span) = Trace.within("step", name, "pipelines")(step())
      emit("event" -> "step", "step" -> name, "wall_s" -> wall, "cpu_s" -> (cpuS - c0),
        "span" -> span.id, "start_ms" -> span.start, "end_ms" -> span.end,
        "counters" -> counters(out))
    }
    spans.foreach { f =>
      sys.props.remove("spark.extraListeners")
      Trace.writeJsonl(f)
      ingestProbe(new File(work, "day2.xml"))
    }
  }

  /** The store the daily release is loaded into: day 1 bulk-loaded into an
    * empty store, reloaded once (the first reload carries the documented
    * mergeCS reorder updates, after which the store is converged), then
    * annotated.
    */
  private def base(work: File): Unit = {
    val store = new File(work, "base")
    val day1 = new File(work, "day1.xml")
    deleteTree(store)
    val (first, initialS) = load(day1, store)
    val (reload, _) = load(day1, store)
    val (annot, _) = annotate(store, new File(work, "dims"))
    emit("event" -> "base", "initial_load_s" -> initialS, "initial" -> counters(first),
      "reload" -> counters(reload), "annotate" -> counters(annot))
  }

  /** Times XmlIngest.readRecords -> parseRecords, fully materialized
    * through the noop sink; the median of three runs after one warm run.
    */
  private def ingestProbe(release: File): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus).config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def once(): Double = {
      val t0 = System.nanoTime()
      graft.ingest.XmlIngest.parseRecords(
        graft.ingest.XmlIngest.readRecords(spark, release.getPath))
        .write.format("noop").mode("overwrite").save()
      secs(t0)
    }
    once()
    val t = (1 to 3).map(_ => once()).sorted.apply(1)
    val records = graft.ingest.XmlIngest.readRecords(spark, release.getPath).count()
    emit("event" -> "ingest", "parse_s" -> t, "records" -> records,
      "input_mb" -> release.length() / 1e6)
    spark.stop()
  }

  /** Day 1 to convergence, then the day-3 release that must trip the xdb
    * delete ceiling.
    */
  private def guard(work: File): Unit = {
    val store = new File(work, "guard_store")
    deleteTree(store)
    val day1 = new File(work, "day1.xml")
    load(day1, store)
    val (reload, _) = load(day1, store)
    val (converged, _) = load(day1, store)
    val (day3, _) = load(new File(work, "day3.xml"), store)
    emit("event" -> "guard", "reload" -> counters(reload), "converged" -> counters(converged),
      "day3" -> counters(day3))
  }

  /** Annotating an unchanged store a second time must be all-match. */
  private def reannotate(work: File): Unit = {
    val store = new File(work, "reannotate_store")
    deleteTree(store)
    val dims = new File(work, "dims")
    load(new File(work, "day1.xml"), store)
    val (first, _) = annotate(store, dims)
    val (second, _) = annotate(store, dims)
    emit("event" -> "reannotate", "first" -> counters(first), "second" -> counters(second))
  }
}
