package perfbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.col

import graft.operators.{Ann, Dedup}
import graft.prep.{MlTask, PrepConfig, Preprocessor, Scaling}

/** Task counters summed over the jobs of one span. */
final class Counters {
  var jobs, stages, tasks, cpuNs, runMs, gcMs = 0L
  var shuffleWrite, spill, input, peakMem = 0L

  def toJson: String = Json.obj(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_cpu_s" -> cpuNs / 1e9, "task_run_s" -> runMs / 1e3, "gc_s" -> gcMs / 1e3,
    "shuffle_write_bytes" -> shuffleWrite, "spill_bytes" -> spill,
    "input_bytes" -> input, "peak_exec_mem_bytes" -> peakMem)
}

/** One Spark job: the span whose job group launched it, its wall-clock
  * interval, and the source file of its call site.
  */
final case class JobRec(span: Int, startMs: Long, var endMs: Long, file: String)

/** Attributes jobs, stages and tasks to spans through job groups named
  * `span-<id>`. Jobs outside any span are ignored.
  */
final class SpanListener extends SparkListener {
  val counters = mutable.Map[Int, Counters]()
  val jobs = mutable.Map[Int, JobRec]()
  private val stageSpan = mutable.Map[Int, Int]()
  private val execFile = mutable.Map[Long, String]()
  private val CallSite = """ at ([^:\s]+):\d+""".r.unanchored

  private def fileOf(callSite: String): Option[String] = callSite match {
    case CallSite(f) => Some(f)
    case _           => None
  }

  /** AQE runs query stages from a thread pool, so a job's own call site
    * often names CompletableFuture.java; the SQL execution it belongs to
    * carries the call site of the action that started it.
    */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      fileOf(s.description).foreach(execFile(s.executionId) = _)
    }
    case _ =>
  }

  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("span-")).map(_.stripPrefix("span-").toInt)

  private def of(span: Int) = counters.getOrElseUpdate(span, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    spanOf(e.properties).foreach { s =>
      e.stageIds.foreach(id => stageSpan.getOrElseUpdate(id, s))
      val name = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      val exec = Option(e.properties.getProperty("spark.sql.execution.id")).map(_.toLong)
      val file = exec.flatMap(execFile.get).orElse(fileOf(name)).getOrElse("unknown")
      jobs(e.jobId) = JobRec(s, e.time, e.time, file)
      of(s).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSpan.get(e.stageInfo.stageId).foreach(s => of(s).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (s <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = of(s)
      c.tasks += 1
      c.cpuNs += m.executorCpuTime
      c.runMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.input += m.inputMetrics.bytesRead
      c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
    }
  }
}

final class Span(val id: Int, val name: String, val parent: Int) {
  var startMs, endMs, startNs, endNs = 0L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the public calls of one op. When `traced`, each span
  * runs under its own job group so the listener can attribute jobs.
  */
final class Tracer(sc: SparkContext, val traced: Boolean) {
  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Span]

  private def enter(s: Option[Span]): Unit =
    if (traced) s match {
      // no description: SQL executions then record the action's call site
      case Some(p) => sc.setJobGroup(s"span-${p.id}", null)
      case None    => sc.clearJobGroup()
    }

  def apply[T](name: String)(body: => T): T = {
    val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1))
    spans += s
    stack = s :: stack
    enter(Some(s))
    s.startMs = System.currentTimeMillis()
    s.startNs = System.nanoTime()
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
      enter(stack.headOption)
    }
  }
}

/** A workload: its inputs, one op, and the dump of the op's outputs
  * that `check.py` compares against the generator's truth.
  */
trait Workload {
  /** Runs one op inside `t("op")`, then writes what `check.py` needs
    * into `dir`; returns facts about the op's output.
    */
  def op(i: Int, t: Tracer, dir: File): Map[String, Any]

  /** A cheap pass over the same code paths, run on the warm-up input. */
  def warmUp(): Unit
}

/** One op is the quantile-normal fit → transform → inverse cycle. */
final class PrepWorkload(spark: SparkSession, dir: File) extends Workload {
  private val inputs = dir.listFiles().map(_.getName).filter(_.startsWith("prep_")).sorted
    .map(f => spark.read.parquet(new File(dir, f).getPath)).toIndexedSeq

  /** Quantile-normal's plan cost grows with grid points times numeric
    * columns: at the default 101-point grid one column's cycle costs
    * ~45 s on this table, all six at 21 points ~45 s. To fit a run, the
    * cycle scales `score` alone on a 21-point grid and passes the other
    * numerics through.
    */
  private val config = PrepConfig(
    scaling = Scaling.Quantile(21, normal = true),
    excludedCols = Seq("id", "series_id", "age", "fnlwgt", "education_num", "capital_gain",
      "hours_per_week"),
    seriesKey = Some("series_id"), mlTask = Some(MlTask.Classification),
    targetColumn = Some("income"))

  /** The restored frame goes to parquet, not the noop sink: the check
    * reads it back, so its plan is not executed a second time.
    */
  def op(i: Int, t: Tracer, dir: File): Map[String, Any] = {
    val batch = i % inputs.size
    val df = inputs(batch)
    val encoded = t("op") {
      val model = t("prep.quantile_normal.fit")(Preprocessor.fit(df, config))
      val enc = t("prep.quantile_normal.transform_plan")(model.transform(df))
      t("prep.quantile_normal.transform_exec")(enc.write.format("noop").mode("overwrite").save())
      val back = t("prep.quantile_normal.inverse_plan")(model.inverseTransform(enc))
      t("prep.quantile_normal.inverse_exec")(back.write.mode("overwrite")
        .parquet(new File(dir, "restored.parquet").getPath))
      enc.columns.length
    }
    Map("batch" -> batch, "encoded_columns" -> encoded)
  }

  def warmUp(): Unit = {
    val df = inputs.head.select("id", "age", "fnlwgt", "score")
    val m = Preprocessor.fit(df, PrepConfig(scaling = Scaling.Normalize, excludedCols = Seq("id")))
    m.inverseTransform(m.transform(df)).write.format("noop").mode("overwrite").save()
  }
}

final class TsWorkload(spark: SparkSession, dir: File) extends Workload {
  private val points = spark.read.parquet(new File(dir, "points.parquet").getPath)
  private val labels = spark.read.parquet(new File(dir, "labels.parquet").getPath)
  private val checked = Seq("series_id", "n", "mean_v", "min_v", "max_v")

  def op(i: Int, t: Tracer, dir: File): Map[String, Any] = {
    val feats = t("op") {
      val f = t("ts.extract")(
        Preprocessor.extractTsFeatures(points, labels, "series_id", "t", "value", "y"))
      t("ts.materialise")(f.write.format("noop").mode("overwrite").save())
      f
    }
    val present = checked.filter(feats.columns.contains)
    Harness.writeRows(new File(dir, "ts.tsv"), present,
      feats.select(present.map(col): _*).collect().iterator)
    Map("features_kept" -> (feats.columns.length - 1),
      "missing_checked_columns" -> checked.filterNot(present.contains).mkString(","))
  }

  def warmUp(): Unit =
    Preprocessor.extractTsFeatures(points, labels, "series_id", "t", "value", "y").collect()
}

final class DedupKnnWorkload(spark: SparkSession, dir: File, k: Int) extends Workload {
  private def read(n: String) = spark.read.parquet(new File(dir, n).getPath)
  private val docs = read("docs.parquet")
  private val vectors = read("vectors.parquet")
  private val queries = read("queries.parquet")

  def op(i: Int, t: Tracer, dir: File): Map[String, Any] = {
    val (pairs, comps, hits) = t("op") {
      val pairs = t("dedup.minhash")(Dedup.minhashPairs(docs, "doc_id", "text").localCheckpoint())
      val comps = t("dedup.cc")(Dedup.connectedComponents(pairs).collect())
      val edges = t("ann.build")(Ann.hnswBuild(vectors, "id", "vec").localCheckpoint())
      val hits = t("ann.search")(Ann.hnswSearch(vectors, queries, edges, "id", "vec", k).collect())
      (pairs, comps, hits)
    }
    val pairRows = pairs.select("id_a", "id_b").collect()
    Harness.writeRows(new File(dir, "pairs.tsv"), Seq("id_a", "id_b"), pairRows.iterator)
    Harness.writeRows(new File(dir, "components.tsv"), Seq("id", "canonical"), comps.iterator)
    Harness.writeRows(new File(dir, "hits.tsv"), Seq("query_id", "nn_id", "cosine", "rank"),
      hits.iterator.map(r => Row(r.getAs[Any]("query_id"), r.getAs[Any]("nn_id"),
        r.getAs[Any]("cosine"), r.getAs[Any]("rank"))))
    Map("pairs_out" -> pairRows.length)
  }

  def warmUp(): Unit =
    Dedup.connectedComponents(Dedup.minhashPairs(docs, "doc_id", "text")).collect()
}

/** Closed-loop benchmark driver: one client, one op at a time.
  *
  * Usage: Harness --workload W --data DIR --out DIR --seconds S
  *   --trace 0|1 --setups N --nproc P
  *
  * `DIR/warmup` holds a small input of the same shape; setup is session
  * start plus a warm-up pass over it, repeated `setups` times in fresh
  * sessions.
  * With --trace 1, ops alternate traced (listener attached, one job
  * group per span) and untraced, so tracing overhead is the difference
  * of their medians.
  */
object Harness {
  val ReportedConf = Seq(
    "spark.master", "spark.sql.extensions", "spark.sql.session.timeZone",
    "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.enabled", "spark.sql.adaptive.skewJoin.enabled",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes", "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.files.maxPartitionBytes", "spark.sql.codegen.wholeStage",
    "spark.sql.codegen.factoryMode", "spark.sql.codegen.maxFields",
    "spark.sql.codegen.hugeMethodLimit", "spark.sql.codegen.fallback",
    "spark.sql.codegen.splitConsumeFuncByOperator", "spark.sql.ansi.enabled")

  def session(nproc: Int, work: File): SparkSession =
    SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // deployment settings: no UI server, loopback only, scratch in the run dir
      .config("spark.ui.enabled", "false")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()

  def workload(name: String, spark: SparkSession, dir: File): Workload =
    name match {
      case "prep_small" => new PrepWorkload(spark, dir)
      case "ts_features" => new TsWorkload(spark, dir)
      case "dedup_knn" => new DedupKnnWorkload(spark, dir, 10)
      case other => sys.error(s"unknown workload $other")
    }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val name = opt("workload")
    val data = new File(opt("data"))
    val out = new File(opt("out"))
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val nproc = opt("nproc").toInt
    val dumps = new File(out, "dumps")
    dumps.mkdirs()

    val setupS = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    for (_ <- 1 to opt("setups").toInt) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = session(nproc, out)
      workload(name, spark, new File(data, "warmup")).warmUp()
      setupS += (System.nanoTime() - t0) / 1e9
    }
    val sc = spark.sparkContext
    val w = workload(name, spark, data)

    val records = mutable.ArrayBuffer[String]()
    val start = System.nanoTime()
    var i = 0
    // traced runs alternate T U T U ...; the first op is the coldest, so
    // tracing overhead compares the later ops and needs three of them
    while (i < (if (trace) 3 else 1) ||
           (System.nanoTime() - start) / 1e9 < seconds) {
      val traced = trace && i % 2 == 0
      val listener = if (traced) Some(new SpanListener) else None
      listener.foreach(sc.addSparkListener)
      val t = new Tracer(sc, traced)
      val opDir = new File(dumps, s"op$i")
      opDir.mkdirs()
      val (facts, error) =
        try (w.op(i, t, opDir), "") catch { case e: Throwable => (Map.empty[String, Any], e.toString) }
      listener.foreach { l => ListenerBusDrain(sc); sc.removeSparkListener(l) }
      records += opJson(i, t, listener, facts, error)
      i += 1
    }

    val conf = ReportedConf.map(k => k -> spark.conf.getOption(k).getOrElse("")).toMap ++ Map(
      "spark.default.parallelism" -> sc.defaultParallelism.toString,
      "spark.version" -> spark.version)
    val run = Json.obj(
      "workload" -> name, "nproc" -> nproc, "setup_s" -> setupS.toSeq,
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory,
      "java_version" -> System.getProperty("java.version"),
      "rss_peak_kb" -> rssPeakKb(), "ops" -> i,
      "measure_s" -> (System.nanoTime() - start) / 1e9,
      "session_conf" -> conf)
    Files.write(Paths.get(out.getPath, "ops.jsonl"), records.mkString("", "\n", "\n").getBytes("UTF-8"))
    Files.write(Paths.get(out.getPath, "run.json"), run.getBytes("UTF-8"))
    spark.stop()
  }

  def opJson(i: Int, t: Tracer, l: Option[SpanListener], facts: Map[String, Any],
             error: String): String = {
    val spans = t.spans.map { s =>
      val fields = Seq[(String, Any)]("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_s" -> s.seconds)
      val traced = l.toSeq.flatMap { lst =>
        val jobs = lst.jobs.values.filter(_.span == s.id).toSeq.sortBy(_.startMs)
          .map(j => Seq(j.startMs, j.endMs, j.file))
        Seq("counters" -> Json.Raw(lst.counters.getOrElse(s.id, new Counters).toJson),
          "jobs" -> jobs)
      }
      Json.Raw(Json.obj(fields ++ traced: _*))
    }
    Json.obj("op" -> i, "traced" -> t.traced, "error" -> error, "facts" -> facts,
      "spans" -> spans.toSeq)
  }

  /** VmHWM: the resident-set high-water mark of this JVM. */
  def rssPeakKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    finally src.close()
  }

  def writeRows(f: File, header: Seq[String], rows: Iterator[Row]): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try {
      w.println(header.mkString("\t"))
      rows.foreach(r => w.println(r.toSeq.map {
        case null => "\\N"
        case v    => v.toString
      }.mkString("\t")))
    } finally w.close()
  }
}

/** Minimal JSON writer for the run record. */
object Json {
  final case class Raw(s: String)

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    } + "\""

  def value(v: Any): String = v match {
    case null                  => "null"
    case Raw(s)                => s
    case s: String             => str(s)
    case d: Double             => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number             => n.toString
    case b: Boolean            => b.toString
    case m: Map[_, _]          => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case s: Iterable[_]        => s.map(value).mkString("[", ",", "]")
    case other                 => str(other.toString)
  }
}
