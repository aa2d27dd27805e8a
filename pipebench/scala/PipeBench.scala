package pipebench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.pipeline.{Medallion, Orchestrator}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.window.WindowExec

/** Benchmark harness. One JVM runs one workload against inputs that
  * `run.py` generated, and writes `result.json` into the work directory.
  *
  *   medallion     runAllOrchestrated into an empty warehouse, then CDC
  *                 micro-batches through streamingGoldMaintenance, one file
  *                 landing after the previous batch's gold commit
  *   mart_queries  registered SparkEntry queries, one client, closed loop,
  *                 CacheRegistry.releaseAll between queries
  *
  * With `trace=1` it also records spans (workload -> stage, micro-batch or
  * query -> Spark job) and Spark task counters; without it, no listener of
  * the benchmark is attached. The check reads the warehouse and the query
  * outputs after the JVM has exited.
  *
  * Arguments are key=value pairs: workload, data, work, trace, passes,
  * queries (comma-separated), and fixed (queries that read fixed_data
  * instead of data).
  */
object PipeBench {

  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val work = a("work")
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("pipebench")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // the same warm-up action graft.Bench runs before timing
    spark.range(1000000L).selectExpr("sum(id)").collect()

    val tracer = if (a("trace") == "1") Some(new Tracer(spark)) else None
    val out = new Json
    out.num("setup_end_ms", System.currentTimeMillis().toDouble)
    out.num("cpus", cpus)
    val root = tracer.map(_.open("workload", a("workload"), 0L)).getOrElse(0L)
    val t0 = System.nanoTime()
    val c0 = cpuS
    a("workload") match {
      case "medallion" => new MedallionRun(spark, a("data"), work, tracer, root, out).run()
      case "mart_queries" =>
        val fixed = a.get("fixed").toSeq.flatMap(_.split(",")).map(_ -> a("fixed_data")).toMap
        new QueryRun(spark, a("data"), fixed, work, a("queries").split(",").toSeq,
          a("passes").toInt, tracer, root, out).run()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val wall = (System.nanoTime() - t0) / 1e9
    tracer.foreach { tr =>
      tr.close(root)
      tr.report(out, wall)
      tr.writeSpans(s"$work/spans.json")
    }
    out.num("measured_s", wall).num("measured_cpu_s", cpuS - c0)
    Files.writeString(Paths.get(s"$work/result.json"), out.render)
    spark.stop()
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** CPU seconds this JVM has used, all threads. */
  def cpuS: Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Files and bytes under `dir`: (parquet data files, bytes of every
    * regular file, checksums and markers included). */
  def census(dir: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) return (0L, 0L)
    val s = Files.walk(p)
    try {
      val files = s.iterator().asScala.filter(f => Files.isRegularFile(f)).toSeq
      (files.count(f => f.getFileName.toString.endsWith(".parquet") &&
          !f.getFileName.toString.startsWith(".")),
        files.map(f => Files.size(f)).sum)
    } finally s.close()
  }
}

/** A full medallion build into an empty warehouse, then one CDC
  * micro-batch per file in `work`/updates on the built warehouse. */
class MedallionRun(spark: SparkSession, data: String, work: String,
                   tracer: Option[Tracer], root: Long, out: Json) {
  import PipeBench._

  private val wh = s"$work/warehouse"
  private val staging = s"$work/updates"
  private val source = s"$work/stream-source"
  private val upsertS = mutable.ArrayBuffer.empty[Double]
  private val refreshS = mutable.ArrayBuffer.empty[Double]
  private val datesTouched = new AtomicLong(0)
  @volatile private var inCdc = false

  /** The program's Medallion, with the two public calls each micro-batch
    * makes and each DAG stage wrapped in a span when tracing. */
  private val m: Medallion = tracer match {
    case None => new Medallion(spark, data, wh)
    case Some(tr) => new Medallion(spark, data, wh) {
      override def stages(): Seq[Orchestrator.Stage] = super.stages().map { s =>
        s.copy(run = () => tr.span("stage", s.name, root)(s.run()))
      }
      override def upsertSilver(table: String, updates: DataFrame, keys: Seq[String],
                                partitionCol: String,
                                checks: Seq[(String, Column)]): Long = {
        val t0 = System.nanoTime()
        val v = tr.span("call", "upsertSilver", tr.enclosing)(
          super.upsertSilver(table, updates, keys, partitionCol, checks))
        if (inCdc) upsertS.synchronized(upsertS += secondsSince(t0))
        v
      }
      override def runGoldIncrementalFromChanges(fromVersion: Long, toVersion: Long,
                                                 attrs: Seq[String]): Seq[String] = {
        val t0 = System.nanoTime()
        val d = tr.span("call", "runGoldIncrementalFromChanges", tr.enclosing)(
          super.runGoldIncrementalFromChanges(fromVersion, toVersion, attrs))
        refreshS.synchronized(refreshS += secondsSince(t0))
        datesTouched.addAndGet(d.size)
        d
      }
    }
  }

  def run(): Unit = {
    // ---- batch build ----
    val tb = System.nanoTime()
    val cb = cpuS
    val results = m.runAllOrchestrated()
    out.num("build_s", secondsSince(tb)).num("build_cpu_s", cpuS - cb)
    out.arr("stages", results.map(r => new Json()
      .str("name", r.stage).str("status", r.status).num("s", r.duration_ms / 1000.0)
      .str("error", r.error)))
    val layers = Seq("bronze", "silver", "gold")
    layers.foreach { l =>
      val (f, b) = census(s"$wh/$l")
      out.num(s"build.files.$l", f.toDouble).num(s"build.bytes.$l", b.toDouble)
    }
    val oracles = graft.SparkEntry.oracleSql
    out.obj("oracle_sql", Seq("q_revenue_daily", "q_enrich_orders")
      .foldLeft(new Json)((j, n) => j.str(n, oracles(n))))
    val v1 = m.latestVersion("orders_enriched").getOrElse(0L)
    out.num("base_version", v1.toDouble)

    // ---- CDC stream: one producer, closed loop ----
    new File(source).mkdirs()
    val files = new File(staging).listFiles().map(_.getName)
      .filter(_.endsWith(".parquet")).sorted
    val schema = StructType.fromDDL(
      "o_orderkey BIGINT, o_orderstatus STRING, status_normalized STRING, order_date DATE")
    val listener = tracer.map(_ => graft.streaming.Observability.attach(spark))
    val stream = spark.readStream.schema(schema).parquet(source)
    val q = m.streamingGoldMaintenance(stream, Seq("o_orderkey"), Seq("o_orderstatus"),
      s"$work/stream-checkpoint")
    val lat = mutable.ArrayBuffer.empty[Double]
    val landMs = mutable.ArrayBuffer.empty[Long]
    val versions = mutable.ArrayBuffer.empty[Json]
    inCdc = true
    try files.zipWithIndex.foreach { case (f, i) =>
      val span = tracer.map(_.open("batch", f, root)).getOrElse(0L)
      tracer.foreach(_.currentOp = span)
      val t0 = System.nanoTime()
      landMs += System.currentTimeMillis()
      Files.move(Paths.get(staging, f), Paths.get(source, f), StandardCopyOption.ATOMIC_MOVE)
      q.processAllAvailable()
      lat += secondsSince(t0)
      tracer.foreach(_.close(span))
      val v = m.latestVersion("orders_enriched").getOrElse(0L)
      val (vf, vb) = census(s"$wh/silver/orders_enriched/v=$v")
      versions += new Json().num("batch", i).num("version", v.toDouble)
        .num("files", vf.toDouble).num("bytes", vb.toDouble)
    } finally {
      inCdc = false
      q.stop()
    }
    out.arr("batch_s", lat.toSeq.map(x => new Json().num("s", x)))
    out.arr("silver_versions", versions.toSeq)
    out.num("warehouse_bytes", census(wh)._2.toDouble)
    out.arr("committed_versions",
      m.committedVersions("orders_enriched").map(v => new Json().num("v", v.toDouble)))

    tracer.foreach { tr =>
      val l = listener.get
      tr.drain()
      graft.streaming.Observability.detach(spark, l)
      val snap = l.snapshot.filter(_.num_input_rows > 0)
      val pickup = snap.zip(landMs).map { case (b, land) =>
        (java.time.Instant.parse(b.batch_ts).toEpochMilli - land).toDouble }
      tr.layer("streaming.batch_ms_p50", median(snap.map(_.batch_duration_ms.toDouble)), "ms")
      tr.layer("streaming.pickup_ms_p50", median(pickup), "ms")
      tr.layer("pipeline.upsert_silver_s", median(upsertS.toSeq), "s")
      tr.layer("pipeline.gold_refresh_s", median(refreshS.toSeq), "s")
      tr.layer("pipeline.dates_touched", datesTouched.get.toDouble, "count")
    }
  }
}

/** The registered-query mix: build the DataFrame, plan it, execute it into
  * parquet (the output the check reads). */
class QueryRun(spark: SparkSession, data: String, fixed: Map[String, String],
               work: String, names: Seq[String],
               passes: Int, tracer: Option[Tracer], root: Long, out: Json) {
  import PipeBench._

  def run(): Unit = {
    val reg = graft.SparkEntry.queries
    val oracles = graft.SparkEntry.oracleSql
    val missing = names.filterNot(n => reg.contains(n) && oracles.contains(n))
    require(missing.isEmpty, s"not registered with an oracle: ${missing.mkString(", ")}")
    val rows = mutable.ArrayBuffer.empty[Json]
    val passS = mutable.ArrayBuffer.empty[Double]
    for (p <- 0 until passes) {
      val tp = System.nanoTime()
      names.foreach { n =>
        graft.util.CacheRegistry.releaseAll(spark)
        val span = tracer.map(_.open("query", n, root)).getOrElse(0L)
        tracer.foreach(_.currentOp = span)
        val j = new Json().str("name", n).num("pass", p)
        val t0 = System.nanoTime()
        try {
          val df = reg(n)(spark, fixed.getOrElse(n, data))
          val t1 = System.nanoTime()
          val plan = df.queryExecution.executedPlan
          val t2 = System.nanoTime()
          df.write.mode("overwrite").parquet(s"$work/check/queries/p$p/$n")
          val t3 = System.nanoTime()
          j.num("s", (t3 - t0) / 1e9).num("build_s", (t1 - t0) / 1e9)
            .num("plan_s", (t2 - t1) / 1e9).num("exec_s", (t3 - t2) / 1e9).bool("ok", true)
          if (tracer.isDefined) {
            val nodes = Plans.flatten(plan)
            j.num("plan_lines", df.queryExecution.optimizedPlan.treeString.count(_ == '\n') + 1)
              .num("exchanges", nodes.count(_.isInstanceOf[Exchange]))
              .num("unpartitioned_windows", nodes.count {
                case w: WindowExec => w.partitionSpec.isEmpty
                case _ => false
              })
          }
        } catch {
          case e: Throwable =>
            j.num("s", secondsSince(t0)).bool("ok", false)
              .str("error", s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
        }
        tracer.foreach(_.close(span))
        rows += j
      }
      passS += secondsSince(tp)
    }
    out.arr("queries", rows.toSeq)
    out.arr("pass_s", passS.map(x => new Json().num("s", x)).toSeq)
    out.obj("oracle_sql", names.foldLeft(new Json)((j, n) => j.str(n, oracles(n))))
  }
}

object Plans {
  /** Every node of a physical plan, looking through adaptive wrappers and
    * query stages. */
  def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
    case s: QueryStageExec => s +: flatten(s.plan)
    case other => other +: other.children.flatMap(flatten)
  }
}

/** In-memory spans and Spark task counters; written out when the run ends. */
class Tracer(spark: SparkSession) {
  private case class Span(id: Long, parent: Long, kind: String, name: String,
                          start: Long, var end: Long)
  private val ids = new AtomicLong(0)
  private val open_ = new java.util.concurrent.ConcurrentHashMap[Long, Span]()
  private val done = new ConcurrentLinkedQueue[Span]()
  private val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  @volatile var currentOp: Long = 0L

  private val jobs, stages, tasks = new LongAdder
  private val taskMs, gcMs, spill, shRead, shWrite, output = new LongAdder
  private val jobSpans = new java.util.concurrent.ConcurrentHashMap[Int, Span]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.increment()
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
        .map(_.toLong).getOrElse(currentOp)
      jobSpans.put(e.jobId, Span(ids.incrementAndGet(), parent, "job", s"job ${e.jobId}",
        e.time, 0L))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpans.remove(e.jobId)).foreach { s => s.end = e.time; done.add(s) }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.increment()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.increment()
      Option(e.taskMetrics).foreach { m =>
        taskMs.add(m.executorRunTime)
        gcMs.add(m.jvmGCTime)
        spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
        shRead.add(m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
        shWrite.add(m.shuffleWriteMetrics.bytesWritten)
        output.add(m.outputMetrics.bytesWritten)
      }
    }
  }
  spark.sparkContext.addSparkListener(listener)

  def open(kind: String, name: String, parent: Long): Long = {
    val s = Span(ids.incrementAndGet(), parent, kind, name, System.currentTimeMillis(), 0L)
    open_.put(s.id, s)
    s.id
  }

  def close(id: Long): Unit = Option(open_.remove(id)).foreach { s =>
    s.end = System.currentTimeMillis(); done.add(s)
  }

  /** The span that encloses work on this thread: the one whose Spark jobs
    * this thread is running, else the current workload operation. */
  def enclosing: Long =
    Option(spark.sparkContext.getLocalProperty(Tracer.Key)).map(_.toLong).getOrElse(currentOp)

  /** Run `f` inside a span whose Spark jobs name it as their parent. */
  def span[A](kind: String, name: String, parent: Long)(f: => A): A = {
    val id = open(kind, name, parent)
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Tracer.Key)
    sc.setLocalProperty(Tracer.Key, id.toString)
    try f finally { sc.setLocalProperty(Tracer.Key, prev); close(id) }
  }

  def layer(name: String, v: Double, unit: String): Unit = layers(name) = (v, unit)

  def drain(): Unit = org.apache.spark.BenchAccess.drain(spark.sparkContext)

  def report(out: Json, wall: Double): Unit = {
    drain()
    val mb = 1024.0 * 1024.0
    layer("spark.jobs", jobs.sum.toDouble, "count")
    layer("spark.stages", stages.sum.toDouble, "count")
    layer("spark.tasks", tasks.sum.toDouble, "count")
    layer("spark.task_s", taskMs.sum / 1000.0, "s")
    layer("spark.busy_cores", taskMs.sum / 1000.0 / wall, "cores")
    layer("spark.gc_s", gcMs.sum / 1000.0, "s")
    layer("spark.spill_mb", spill.sum / mb, "MB")
    layer("spark.shuffle_read_mb", shRead.sum / mb, "MB")
    layer("spark.shuffle_write_mb", shWrite.sum / mb, "MB")
    layer("spark.output_mb", output.sum / mb, "MB")
    out.obj("layers", layers.foldLeft(new Json) { case (j, (k, (v, u))) =>
      j.obj(k, new Json().num("value", v).str("unit", u)) })
  }

  def writeSpans(path: String): Unit = {
    val all = done.asScala.toSeq.sortBy(s => (s.start, s.id))
    val j = new Json().arr("spans", all.map(s => new Json().num("id", s.id.toDouble)
      .num("parent", s.parent.toDouble).str("kind", s.kind).str("name", s.name)
      .num("start_ms", s.start.toDouble).num("end_ms", s.end.toDouble)))
    Files.writeString(Paths.get(path), j.render)
  }
}

object Tracer { val Key = "pipebench.span" }

/** A minimal JSON object builder (insertion-ordered). */
class Json {
  private val fields = mutable.ArrayBuffer.empty[(String, String)]
  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(k: String, v: Double): Json = {
    fields += k -> (if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)); this
  }
  def str(k: String, v: String): Json = { fields += k -> q(String.valueOf(v)); this }
  def bool(k: String, v: Boolean): Json = { fields += k -> v.toString; this }
  def obj(k: String, v: Json): Json = { fields += k -> v.render; this }
  def arr(k: String, vs: Seq[Json]): Json = { fields += k -> vs.map(_.render).mkString("[", ",", "]"); this }
  def render: String = fields.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
}
