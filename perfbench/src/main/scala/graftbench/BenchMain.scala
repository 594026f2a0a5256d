package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Flows, SparkEntry, Tables, Verify}

/** One benchmark run: a cold set-up, a cold pass that also lands the
  * correctness dumps, and a fixed number of warm passes, all through the
  * engine's public API.
  * Writes raw timings (and, traced, raw listener records) as JSON to
  * `<work>/raw.json`; perfbench/run.py turns them into metrics.
  *
  * Usage: BenchMain <workload> <seed> <warm passes> <trace 0|1> <sfDir> <workDir>
  */
object BenchMain {

  /** A query item constructs a DataFrame with `SparkEntry.queries(name)`
    * and executes it into the noop sink; a flow item calls one `Flows.*`
    * entry point, which lands parquet through `graft.sources.Sinks`. */
  final case class Item(name: String, flow: Boolean)
  final case class Workload(name: String, items: Seq[Item])

  val relational = Seq("q01_pricing_summary", "q03_segment_revenue",
    "q05_nation_revenue", "q08_dedup_keepfirst", "q60_tumbling_window")

  val corpus = Seq("q30_term_freq", "q31_bigram_freq", "q46_ngram123",
    "q45_dedup_survivors", "q44_dedup_embedding", "q137_neardup_decontaminate",
    "q143_contamination_ladder", "q50_knn_bruteforce", "q255_knn_batch",
    "q254_image_decode", "q121_bpe_merges", "q259_chunk_dedup", "q268_hygiene_funnel")

  def workload(name: String): Workload = name match {
    case "relational" => Workload(name, relational.map(Item(_, flow = false)))
    case "corpus" =>
      Workload(name, corpus.map(Item(_, flow = false)) :+ Item("corpusFlow", flow = true))
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Module of a registered query: the object whose `defs` declared it,
    * read from the class of the query's function. */
  def moduleOf(fn: AnyRef): String =
    fn.getClass.getName.split('.').last.takeWhile(_ != '$')

  final class Run(val wl: Workload, val seed: Long, val passes: Int,
      val traced: Boolean, val dir: String, val work: Path) {
    val cores: Int = Runtime.getRuntime.availableProcessors()
    var spark: SparkSession = _
    val rng = new scala.util.Random(seed)
    val errors = mutable.LinkedHashMap.empty[String, String]
    val observations = new java.util.concurrent.atomic.AtomicLong
    def queries: Seq[String] = wl.items.filterNot(_.flow).map(_.name)
    def flows: Seq[String] = wl.items.filter(_.flow).map(_.name)
  }

  def main(argv: Array[String]): Unit = {
    val Array(wlName, seed, passes, trace, dir, work) = argv
    val r = new Run(workload(wlName), seed.toLong, passes.toInt, trace == "1",
      dir, Paths.get(work))
    Files.createDirectories(r.work)
    val out = mutable.LinkedHashMap.empty[String, Any]
    out("env") = environment(r)
    out("items") = r.wl.items.map(i => Map("name" -> i.name, "flow" -> i.flow,
      "module" -> (if (i.flow) "Flows" else moduleOf(SparkEntry.queries(i.name)))))
    out("setup") = setup(r)
    val tracer = if (r.traced) Some(new Tracer) else None
    out("cold_pass") = attached(r, tracer)(pass(r, "cold", tracer))
    val (warm, traced) = warmPasses(r, tracer)
    out("passes") = warm
    if (r.traced) out("traced_passes") = traced
    out("verify") = verify(r, warm.head)
    out("errors") = r.errors
    out("live_heap_gib") = liveHeapGib()
    Files.writeString(r.work.resolve("raw.json"), Json.render(out))
    r.spark.stop()
  }

  /** Runs `body` with the tracer's listeners registered, if tracing. */
  private def attached[T](r: Run, tracer: Option[Tracer])(body: => T): T = tracer match {
    case None => body
    case Some(t) =>
      r.spark.sparkContext.addSparkListener(t)
      r.spark.listenerManager.register(t)
      try body
      finally {
        r.spark.listenerManager.unregister(t)
        r.spark.sparkContext.removeSparkListener(t)
      }
  }

  private def environment(r: Run): Map[String, Any] = Map(
    "workload" -> r.wl.name, "seed" -> r.seed, "passes" -> r.passes, "trace" -> r.traced,
    "nproc" -> r.cores, "heap_max_gib" -> Runtime.getRuntime.maxMemory / math.pow(1024, 3),
    "spark_version" -> org.apache.spark.SPARK_VERSION,
    "java_version" -> sys.props("java.version"), "sf_dir" -> r.dir,
    "tmpdir" -> sys.props("java.io.tmpdir"))

  // ---------------------------------------------------------------- set-up

  /** The run's one set-up, timed from JVM start: a session, the
    * `Tables.prepared*` materializations (run.py cleared their cache
    * before the JVM started), and a warm-up read of the largest tables and
    * the flagship query. */
  private def setup(r: Run): Map[String, Double] = {
    val start = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val t0 = Clock.nowMs
    r.spark = session(r)
    val t1 = Clock.nowMs
    Tables.preparedDocuments(r.spark, r.dir)
    Tables.preparedPart(r.spark, r.dir)
    val t2 = Clock.nowMs
    Tables.lineitem(r.spark, r.dir).count()
    Tables.documents(r.spark, r.dir).count()
    graft.operators.Relational.flagship(r.spark, r.dir).count()
    val t3 = Clock.nowMs
    Map("total_s" -> (t3 - start) / 1e3, "jvm_s" -> (t0 - start) / 1e3,
      "session_s" -> (t1 - t0) / 1e3, "prepare_s" -> (t2 - t1) / 1e3,
      "warmup_s" -> (t3 - t2) / 1e3)
  }

  private def session(r: Run): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${r.cores}]")
      .config("spark.sql.shuffle.partitions", r.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.taskMetrics.trackUpdatedBlockStatuses", r.traced.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.experimental.extraOptimizations ++= Seq(graft.plans.LowercaseContainsRewrite)
    s
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder()).iterator().asScala.foreach(Files.delete)
      finally w.close()
    }

  // ---------------------------------------------------------------- passes

  /** The warm passes. Traced, they alternate untraced, traced, traced,
    * untraced, in whole cycles of four, so both kinds sit at the same mean
    * position while the JIT is still warming up and their difference is
    * the tracing overhead. */
  private def warmPasses(r: Run, tracer: Option[Tracer])
      : (Seq[Map[String, Any]], Seq[Map[String, Any]]) = {
    val plain = mutable.ArrayBuffer.empty[Map[String, Any]]
    val traced = mutable.ArrayBuffer.empty[Map[String, Any]]
    var i = 0
    while (i < r.passes || (tracer.isDefined && (i < 4 || i % 4 != 0))) {
      if (tracer.isDefined && (i % 4 == 1 || i % 4 == 2))
        traced += attached(r, tracer)(pass(r, "traced", tracer))
      else plain += pass(r, "warm", None)
      i += 1
    }
    (plain.toSeq, traced.toSeq)
  }

  /** One pass over the workload's items. A warm pass runs them in an order
    * drawn from the seed, by one client. The cold pass runs only the
    * queries, through `Verify.run` (one client per core, its own order),
    * landing the dumps the oracle compare reads. */
  private def pass(r: Run, label: String, tracer: Option[Tracer]): Map[String, Any] = {
    val order = r.rng.shuffle(r.wl.items)
    tracer.foreach(_.reset())
    val gc0 = gcMs(); val alloc0 = allocBytes(); val cg0 = codegen()
    val t0 = Clock.nowMs
    val items =
      if (label == "cold") verifyPass(r, label)
      else order.map(runItem(r, _, label))
    val t1 = Clock.nowMs
    val gc1 = gcMs(); val alloc1 = allocBytes(); val cg1 = codegen()
    val trace = tracer.map { t =>
      org.apache.spark.BenchAccess.drainListeners(r.spark.sparkContext)
      t.snapshot()
    }
    // A flow's landing is read back after the pass and its trace, so the
    // read-back is neither timed nor traced.
    val checked = items.map { i =>
      if (i("flow") == true && i("ok") == true) i + ("digest" -> flowDigest(r, i("name").toString))
      else i
    }
    Map[String, Any]("label" -> label, "start" -> t0, "end" -> t1,
      "wall_s" -> (t1 - t0) / 1e3, "order" -> order.map(_.name),
      "gc_s" -> (gc1 - gc0) / 1e3,
      "alloc_gib" -> math.max(0L, alloc1 - alloc0) / math.pow(1024, 3),
      "codegen_s" -> (cg1._2 - cg0._2) / 1e3, "codegen_classes" -> (cg1._1 - cg0._1),
      "items" -> checked, "files" -> landedFiles(r.work.resolve("flows"))) ++
      trace.map("trace" -> _)
  }

  /** Runs one query or flow under a job group named after it; records its
    * window, any failure, and, for a query, a digest of its result for the
    * compare against the checked cold-pass output. */
  private def runItem(r: Run, item: Item, label: String): Map[String, Any] = {
    val sc = r.spark.sparkContext
    val name = item.name
    sc.setJobGroup(name, name, interruptOnCancel = false)
    val t0 = Clock.nowMs
    var t1 = Double.NaN
    var observed: Option[Observation] = None
    val err =
      try {
        if (item.flow) runFlow(r, name, flowDir(r, name))
        else {
          val df = SparkEntry.queries(name)(r.spark, r.dir)
          t1 = Clock.nowMs
          val o = Observation(s"digest-${r.observations.incrementAndGet()}")
          observed = Some(o)
          val d = digestColumns(df)
          df.observe(o, d.head, d.tail: _*).write.format("noop").mode("overwrite").save()
        }
        None
      } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      finally sc.clearJobGroup()
    val t2 = Clock.nowMs
    err.foreach(m => r.errors.getOrElseUpdate(name, s"$label: $m".take(500)))
    // The metrics observed on the query's own execution, read after its
    // timed window.
    val digest =
      if (err.isDefined) null
      else observed.map { o =>
        try render(Await.result(o.future, 60.seconds))
        catch { case e: Exception => s"unobserved: ${e.getClass.getSimpleName}" }
      }.orNull
    Map("name" -> name, "flow" -> item.flow, "start" -> t0,
      "constructed" -> (if (t1.isNaN) t2 else t1), "end" -> t2,
      "secs" -> (t2 - t0) / 1e3, "ok" -> err.isEmpty, "digest" -> digest)
  }

  private def flowDir(r: Run, name: String): Path = r.work.resolve("flows").resolve(name)

  /** A flow as a user calls it, landing in a fresh directory. */
  private def runFlow(r: Run, name: String, out: Path): Unit = {
    deleteRecursively(out)
    Files.createDirectories(out.getParent)
    name match {
      case "corpusFlow" => Flows.corpusFlow(Tables.documents(r.spark, r.dir), Seq(3L, 7L), out.toString)
    }
  }

  /** Parquet artifacts each flow lands, relative to its output directory,
    * and the oracle-checked query whose body an artifact lands, if any. */
  val flowArtifacts: Map[String, Seq[(String, Option[String])]] = Map(
    "corpusFlow" -> Seq("." -> Some("q63_training_pipeline")))

  // ---------------------------------------------------------------- digest

  /** Columns whose row hash is the same on every correct execution: float
    * and double values (possibly in arrays or structs) may differ in their
    * last bits with the order of a sum, and maps have no hash. */
  private def hashable(t: DataType): Boolean = t match {
    case FloatType | DoubleType | _: MapType | VariantType => false
    case ArrayType(e, _) => hashable(e)
    case s: StructType => s.fields.forall(f => hashable(f.dataType))
    case _ => true
  }

  /** Order-insensitive digest of a frame: its row count and a bounded sum
    * of a hash of each row's hashable columns. */
  private def digestColumns(df: DataFrame): Seq[Column] = {
    val cols = df.schema.fields.toSeq.filter(f => hashable(f.dataType))
      .map(f => col("`" + f.name.replace("`", "``") + "`"))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    Seq(count(lit(1)).as("rows"), sum(pmod(h, lit(2147483647L))).as("hash"))
  }

  private def render(row: Row): String = s"${row.get(0)}:${row.get(1)}"

  private def digestOf(r: Run, path: Path): String =
    try {
      val df = r.spark.read.parquet(path.toString)
      render(df.select(digestColumns(df): _*).head())
    } catch { case e: Throwable => s"unreadable: ${e.getClass.getSimpleName}" }

  private def flowDigest(r: Run, name: String): String =
    flowArtifacts(name).map { case (a, _) =>
      s"$a=${digestOf(r, flowDir(r, name).resolve(a).normalize)}"
    }.mkString(";")

  // ---------------------------------------------------------------- verify

  private def verifyDir(r: Run): Path = r.work.resolve("verify")

  /** `Verify.run` over the workload's queries with one client per core;
    * each landed dump is one item, timed by Verify's own timings.json. */
  private def verifyPass(r: Run, label: String): Seq[Map[String, Any]] = {
    val out = verifyDir(r)
    deleteRecursively(out)
    val t0 = Clock.nowMs
    Verify.run(r.spark, r.dir, out.toString, r.queries.toSet, par = r.cores)
    val t1 = Clock.nowMs
    val timings = readTimings(out.resolve("timings.json"))
    r.queries.map { n =>
      val ok = Files.exists(out.resolve(n).resolve("_SUCCESS"))
      if (!ok) r.errors.getOrElseUpdate(n, s"$label: Verify.run landed no dump")
      Map("name" -> n, "flow" -> false, "via_verify" -> true, "start" -> t0,
        "constructed" -> t0, "end" -> t1, "secs" -> timings.getOrElse(n, Double.NaN),
        "ok" -> ok, "digest" -> null)
    }
  }

  private def readTimings(p: Path): Map[String, Double] =
    if (!Files.exists(p)) Map.empty
    else """"([^"]+)"\s*:\s*([0-9.]+)""".r.findAllMatchIn(Files.readString(p))
      .map(m => m.group(1) -> m.group(2).toDouble).toMap

  /** What the correctness check reads: the cold pass's dumps and the last
    * flow landings for the oracle compare, and the digest every execution
    * of an item must reproduce (the dump's for a query, the first warm
    * pass's landing for a flow). */
  private def verify(r: Run, firstWarm: Map[String, Any]): Map[String, Any] = {
    val warmItems = firstWarm("items").asInstanceOf[Seq[Map[String, Any]]]
    // The dumps are small; reading them back one per core keeps this short.
    val dumps = r.queries.map(n => Future(n -> digestOf(r, verifyDir(r).resolve(n))))
    val reference = Await.result(Future.sequence(dumps), 10.minutes) ++
      warmItems.filter(_("flow") == true).map(i => i("name").toString -> i("digest"))
    Map("dump_dir" -> verifyDir(r).toString,
      "reference" -> reference.toMap,
      "flow_oracles" -> (for {
        f <- r.flows
        (a, Some(q)) <- flowArtifacts(f)
      } yield Map("flow" -> f, "path" -> flowDir(r, f).resolve(a).normalize.toString,
        "query" -> q, "sql" -> SparkEntry.oracleSql(q))))
  }

  /** Data files under `root` (the noop sink lands none). */
  private def landedFiles(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val w = Files.walk(root)
      try w.iterator().asScala.count { p =>
        Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-")
      }.toLong
      finally w.close()
    }

  // ------------------------------------------------------------------- jvm

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private def allocBytes(): Long = ManagementFactory.getThreadMXBean match {
    case mx: com.sun.management.ThreadMXBean if mx.isThreadAllocatedMemorySupported =>
      if (!mx.isThreadAllocatedMemoryEnabled) mx.setThreadAllocatedMemoryEnabled(true)
      mx.getThreadAllocatedBytes(mx.getAllThreadIds).filter(_ > 0L).sum
    case _ => 0L
  }

  /** (compilations, approximate compile ms) from Spark's codegen metrics. */
  private def codegen(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getCount * h.getSnapshot.getMean)
  }

  /** Heap in use after full collections: the least of three, because
    * Spark's cleaner frees the blocks of collected RDDs asynchronously. */
  private def liveHeapGib(): Double = {
    val mx = ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      mx.getHeapMemoryUsage.getUsed
    }.min / math.pow(1024, 3)
  }
}
