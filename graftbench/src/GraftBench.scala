package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.metrics.{MetricCompiler, MetricDef}
import graft.model.Manifest

/** Drives graft through its public functions for one benchmark run and
  * writes what it saw to `<dir>/out`: set-up timings, one record per op,
  * the rows of each distinct result (for the correctness check) and, in
  * a traced run, every span with its counters.
  *
  * Usage: GraftBench --workload <w> --dir <runDir> --seconds <s>
  *                   --trace <0|1> --seed <n> [--cpus <n>]
  */
object GraftBench {

  final class Opts(m: Map[String, String]) {
    val workload: String = m("workload")
    val dir: String = m("dir")
    val seconds: Double = m("seconds").toDouble
    val traced: Boolean = m("trace") == "1"
    val seed: Long = m("seed").toLong
    val cpus: Int = m.getOrElse("cpus", "4").toInt
    val out: String = s"$dir/out"
  }

  def now(): Double = System.nanoTime() / 1e9

  def main(args: Array[String]): Unit = {
    val jvmStartS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val o = new Opts(args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap)
    new File(o.out).mkdirs()
    // set-up: one session build (cold: Spark and graft classes load and
    // GraftExtensions register here), then one warm op of each type
    val t00 = now()
    session(o).sql("SELECT 1").collect()
    val sessionS = now() - t00
    val spark = SparkSession.active
    spark.sparkContext.setLogLevel("WARN")
    val t0 = now()
    val work: Work = o.workload match {
      case "semantic_serving" => new Serving(spark, o)
      case "corpus_funnel"    => new Corpus(spark, o, stream = false)
      case "stream_fold"      => new Corpus(spark, o, stream = true)
      case w => throw new IllegalArgumentException(s"unknown workload: $w")
    }
    work.warm()
    val warmS = now() - t0
    val summary = work.run()
    val sc = spark.sparkContext
    if (Trace.enabled) Trace.stop()
    Json.write(s"${o.out}/run.json", Map(
      "setup" -> Map("jvm_start_s" -> jvmStartS, "session_s" -> sessionS, "warm_s" -> warmS),
      "summary" -> summary,
      "peak_rss_mb" -> procStatusKb("VmHWM") / 1024.0))
    if (Trace.listener.nonEmpty) writeSpans(s"${o.out}/spans.jsonl")
    spark.stop()
  }

  def session(o: Opts): SparkSession =
    graft.sources.Sessions.tune(SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.dir}/spark-local"))
      .config("spark.sql.warehouse.dir", s"${o.dir}/warehouse")
      .getOrCreate()

  def procStatusKb(key: String): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith(key + ":")).map(_.split("\\s+")(1).toDouble).getOrElse(0.0)

  def procIoWriteMb(): Double =
    scala.io.Source.fromFile("/proc/self/io").getLines()
      .find(_.startsWith("wchar:")).map(_.split("\\s+")(1).toDouble / 1e6).getOrElse(0.0)

  def processCpuS(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  /** Waits until the listener has seen every posted event (the bus is
    * asynchronous), so span counters are complete when written. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus); ()
    } catch { case _: Throwable => Thread.sleep(2000) }

  def writeSpans(path: String): Unit = {
    val lines = Trace.spans.asScala.toSeq.sortBy(_.id).map { s =>
      Json.encode(Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "counters" -> s.counters.asScala.map { case (k, v) => k -> v.sum }.toMap))
    }
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes(UTF_8)); ()
  }

  def dirBytes(f: File): (Long, Int) =
    if (f.isFile) (f.length, if (f.getName.startsWith("part-")) 1 else 0)
    else Option(f.listFiles).toSeq.flatten.map(dirBytes)
      .foldLeft((0L, 0)) { case ((a, b), (c, d)) => (a + c, b + d) }

  def listenerSummary(): Map[String, Any] = Trace.listener.map { l =>
    "listener" -> Map("jobs" -> l.jobs.get, "unattributed" -> l.unattributed.get,
      "fallback_frames" -> l.fallbackFrames.asScala.map { case (k, v) => k -> v.get }.toMap,
      "totals" -> l.totals.counters.asScala.map { case (k, v) => k -> v.sum }.toMap)
  }.toMap

  def readString(path: String): String = new String(Files.readAllBytes(Paths.get(path)), UTF_8)

  /** A result row as JSON-ready values (dates and timestamps as text). */
  def cells(r: Row): Seq[Any] = r.toSeq.map {
    case d: java.sql.Date      => d.toString
    case t: java.sql.Timestamp => t.toString
    case b: java.math.BigDecimal => b.doubleValue
    case v => v
  }
}

/** One workload: warm-up on tiny inputs, then the measured window. */
trait Work {
  def warm(): Unit
  def run(): Map[String, Any]
}

/** Minimal JSON encoder for the run records (maps, sequences, strings,
  * numbers, booleans, null). */
object Json {
  def encode(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => encode(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) quote(d.toString) else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + encode(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(encode).mkString("[", ",", "]")
    case x => quote(x.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""; case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def write(path: String, v: Any): Unit = {
    Files.write(Paths.get(path), encode(v).getBytes(UTF_8)); ()
  }
}

/** The metric catalog one manifest version defines: executable defs, the
  * fact table behind each metric's model, and a stable popularity rank
  * within each (fact table, calculation method) stratum. */
final case class Catalog(version: Int, defs: Vector[MetricDef], table: Map[String, String]) {
  val ranked: Vector[MetricDef] =
    defs.sortBy(d => (scala.util.hashing.MurmurHash3.stringHash(d.name), d.name))
  val byTable: Map[String, Vector[MetricDef]] = ranked.groupBy(d => table(d.name))
  val strata: Map[(String, String), Vector[MetricDef]] =
    ranked.groupBy(d => (table(d.name), d.calculationMethod))
  val grainStrata: Map[(String, String, String), Vector[MetricDef]] =
    ranked.flatMap(d => d.timeGrains.map(g => ((table(d.name), d.calculationMethod, g), d)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  private val cdfs = new ConcurrentHashMap[Int, Array[Double]]()

  /** Zipf(1.1) pick by rank from `pool`. */
  def zipf(pool: Vector[MetricDef], rng: SplittableRandom): MetricDef = {
    val cdf = cdfs.computeIfAbsent(pool.size, n => {
      val w = (0 until n).map(i => 1.0 / math.pow(i + 1, 1.1)).scanLeft(0.0)(_ + _).tail
      w.map(_ / w.last).toArray
    })
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    pool(math.min(if (i >= 0) i else -i - 1, pool.size - 1))
  }
}

object Catalog {
  private val FactOf = """fct_([a-z]+)_\d+""".r.unanchored

  /** `Manifest.parse` → `metrics` → `toMetricDefs`, plus each metric's
    * model (its first `depends_on` node) mapped to the fact table. */
  def load(spark: SparkSession, json: String, version: Int): (Catalog, DataFrame, DataFrame) = {
    val parsed = Manifest.parse(spark, json)
    val metrics = Manifest.metrics(parsed)
    val defs = Manifest.toMetricDefs(metrics).toVector
    val table = metrics.select(col("name"), element_at(col("depends_on.nodes"), 1).as("model"))
      .collect().map { r =>
        val FactOf(t) = r.getString(1)
        r.getString(0) -> t
      }.toMap
    (Catalog(version, defs, table), parsed, metrics)
  }
}

/** A resolved metric request: the compiler entry point and its inputs. */
final case class Request(kind: String, metrics: Seq[MetricDef], grain: Option[String],
                         grains: Seq[String], trailing: Option[Int], name: String,
                         expression: String, table: String) {
  def key: String = Seq(kind, metrics.mkString(";"), grain, grains, trailing, name, expression).mkString("|")
  def spec: Map[String, Any] = Map(
    "kind" -> kind, "grain" -> grain, "grains" -> grains, "trailing" -> trailing, "name" -> name,
    "expression" -> expression, "table" -> table,
    "metrics" -> metrics.map(m => Map(
      "name" -> m.name, "calculation_method" -> m.calculationMethod, "expression" -> m.expression,
      "timestamp" -> m.timestamp, "dimensions" -> m.dimensions, "time_grains" -> m.timeGrains,
      "filters" -> m.filters.map(f => Map("field" -> f.field, "operator" -> f.operator, "value" -> f.value)))))
}

/** semantic_serving: a closed loop of `clients` callers over a metric
  * catalog. ~96% of requests compile and run a metric query, ~4% deploy
  * the next manifest version through `Ingestion.run`. */
final class Serving(spark: SparkSession, o: GraftBench.Opts) extends Work {
  import GraftBench._
  private val clients = 2
  private val Schedule = 0x5eedL << 20 // request shapes: the same schedule for every seed
  private val Picks = 0x91cL << 20 // metric picks by rank: the same schedule for every seed
  private val rampSeconds = 5.0
  private val deployEvery = 25 // 4% of requests deploy the next manifest version
  private val Exact = Set("count", "count_distinct", "sum", "average", "min", "max", "median")
  // every entry point, fact table, calculation method and grain is
  // equally likely (approximate methods are only served by `simple`)
  private def even(xs: String*): Seq[(String, Double)] = xs.map(_ -> 1.0)
  private val kinds = even("simple", "fused", "ratio", "derived", "cumulative", "multi_grain")
  private val tables = even("lineitem", "orders", "events")
  private val methods = even("sum", "count", "average", "min", "max", "count_distinct", "median",
    "median_approx", "count_distinct_approx")
  private val grains = even("day", "week", "month", "quarter", "year")

  private def weighted(xs: Seq[(String, Double)], rng: SplittableRandom): String = {
    val u = rng.nextDouble() * xs.map(_._2).sum
    xs.scanLeft(("", 0.0)) { case ((_, acc), (k, w)) => (k, acc + w) }.tail
      .find(_._2 >= u).map(_._1).getOrElse(xs.last._1)
  }

  private def bases(factDir: String): Map[String, DataFrame] =
    Seq("orders", "lineitem", "events").map(t => t -> spark.read.parquet(s"$factDir/$t.parquet")).toMap

  /** A request. Its shape (entry point, fact table, calculation method,
    * grain, how many dimensions) is drawn from `shape`; `pick` chooses
    * the metric, a Zipf(1.1) pick by popularity rank within the shape's
    * stratum, and its peers. Both follow fixed schedules, the same for
    * every seed: the seed changes only the manifest and the facts. */
  def resolve(cat: Catalog, shape: SplittableRandom, pick: SplittableRandom): Request = {
    val kind0 = weighted(kinds, shape)
    val table0 = weighted(tables, shape)
    val calc = weighted(methods.filter(c => kind0 == "simple" || Exact(c._1)), shape)
    val grain0 = weighted(grains, shape)
    val dimMask = shape.nextInt(4)
    val extra = 1 + shape.nextInt(3)
    val noGrain = shape.nextBoolean()
    val trailing = if (shape.nextBoolean()) Some(3) else None
    val pool = cat.grainStrata.get((table0, calc, grain0))
      .orElse(cat.strata.get((table0, calc))).getOrElse(cat.byTable.getOrElse(table0, cat.ranked))
    val m = cat.zipf(pool, pick)
    val table = cat.table(m.name)
    val dims = m.dimensions.zipWithIndex.collect { case (d, i) if (dimMask >> i & 1) == 1 => d }
    val grain = if (m.timeGrains.contains(grain0)) grain0 else m.timeGrains(pick.nextInt(m.timeGrains.size))
    val peers = cat.byTable(table).filter(p => p.name != m.name && Exact(p.calculationMethod) &&
      p.timestamp == m.timestamp)
    val start = if (peers.isEmpty) 0 else pick.nextInt(peers.size)
    def take(n: Int) = (peers.drop(start) ++ peers.take(start)).take(n)
    val kind =
      if (!Exact(m.calculationMethod)) "simple"
      else if (Set("fused", "ratio", "derived")(kind0) && peers.isEmpty) "simple"
      else kind0
    val shaped = (m +: (kind match {
      case "fused" => take(extra)
      case "ratio" | "derived" => take(1)
      case _ => Nil
    })).map(_.copy(dimensions = dims))
    val optGrain = if (noGrain) None else Some(grain)
    kind match {
      case "simple" => Request(kind, shaped, Some(grain), Nil, None, "", "", table)
      case "fused" => Request(kind, shaped, optGrain, Nil, None, "", "", table)
      case "ratio" =>
        Request(kind, shaped, optGrain, Nil, None, s"ratio_${shaped(0).name}", "", table)
      case "derived" =>
        Request(kind, shaped, optGrain, Nil, None, s"derived_${shaped(0).name}",
          s"${shaped(0).name} - 2 * ${shaped(1).name}", table)
      case "cumulative" => Request(kind, shaped, Some(grain), Nil, trailing, "", "", table)
      case _ => Request(kind, shaped, None, m.timeGrains, None, "", "", table)
    }
  }

  def compile(r: Request, base: DataFrame): DataFrame = r.kind match {
    case "simple" => MetricCompiler.simple(base, r.metrics.head, r.grain)
    case "fused" => MetricCompiler.fused(base, r.metrics.head, r.metrics, r.grain)
    case "ratio" => MetricCompiler.ratio(base, r.name, r.metrics(0), r.metrics(1), r.grain)
    case "derived" => MetricCompiler.derived(base, r.name, r.expression, r.metrics, r.grain)
    case "cumulative" => MetricCompiler.cumulative(base, r.metrics.head, r.grain.get, r.trailing)
    case _ => MetricCompiler.multiGrain(base, r.metrics.head, r.grains)
  }

  /** compile → plan (forces `executedPlan`, where graft's optimizer rule
    * runs) → execute; each step is its own span in a traced run. */
  def query(r: Request, base: DataFrame): Array[Row] = {
    val df = Trace.span("graft.metrics.compile")(compile(r, base))
    Trace.span("graft.plans.plan")(df.queryExecution.executedPlan)
    Trace.span("graft.metrics.exec")(df.collect())
  }

  /** Ingest a manifest version through `Ingestion.run` and build the
    * catalog later queries compile from. */
  def deploy(json: String, version: Int, sink: String): (Catalog, graft.meta.Ingestion.Result) = {
    val res = graft.meta.Ingestion.run(spark, json, sink)
    (Catalog.load(spark, json, version)._1, res)
  }

  /** The parts `Ingestion.run` chains, each in isolation and in its own
    * span, after a traced deploy: the manifest parse, the lineage and
    * glossary records (forced by `count`) and the sink write (into its
    * own directory). */
  def deployParts(json: String, version: Int, sink: String): Unit = Trace.span("op.isolated.deploy") {
    val (_, parsed, metrics) = Trace.span("graft.model.parse")(Catalog.load(spark, json, version))
    val records = Trace.span("graft.meta.records") {
      val lineage = graft.meta.Lineage.resolve(metrics, Manifest.nodes(parsed), Manifest.sources(parsed))
      val r = graft.meta.Glossary.records(metrics, lineage)
      r.count()
      r
    }
    Trace.span("graft.sources.sink")(
      graft.sources.MetadataSink.emit(records, sink, "parquet", dryRun = false, ordered = true))
    ()
  }

  def warm(): Unit = {
    val tiny = s"${o.dir}/tiny"
    val base = bases(s"$tiny/facts")
    val (cat, _) = deploy(readString(s"$tiny/manifests/v1.json"), 1, s"${o.dir}/warm_sink")
    val rng = new SplittableRandom(Schedule)
    val seen = scala.collection.mutable.Set.empty[String]
    var tries = 0
    while (seen.size < kinds.size && tries < 500) {
      val r = resolve(cat, rng, rng)
      if (seen.add(r.kind)) query(r, base(r.table))
      tries += 1
    }
  }

  /** Untimed queries on the real catalog and facts before the window,
    * so the JIT has compiled the query paths at this data size: the
    * window then measures serving, not warm-up. The ramp uses its own
    * part of the request schedule and records nothing. */
  private def ramp(cat: Catalog, base: Map[String, DataFrame]): Unit = {
    val seq = new AtomicInteger(0)
    val t0 = now()
    val threads = (0 until clients).map(_ => new Thread(() =>
      while (now() - t0 < rampSeconds) {
        val i = seq.getAndIncrement()
        val r = resolve(cat, new SplittableRandom(Schedule - 1 - i), new SplittableRandom(Picks - 1 - i))
        try query(r, base(r.table)) catch { case _: Throwable => () }
      }))
    threads.foreach(_.start()); threads.foreach(_.join())
  }

  def run(): Map[String, Any] = {
    val base = bases(s"${o.dir}/facts")
    val manifests = s"${o.dir}/manifests"
    val catalog = new AtomicReference(Catalog.load(spark, readString(s"$manifests/v0.json"), 0)._1)
    val versions = new File(manifests).list().count(_.matches("v\\d+\\.json"))
    val nextVersion = new AtomicInteger(1)
    val seq = new AtomicInteger(0)
    val ops = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
    val results = new ConcurrentHashMap[String, Map[String, Any]]()
    val deployLock = new Object
    ramp(catalog.get, base)
    // a traced run splits its window in thirds: new requests untraced,
    // then the same requests again untraced, then again traced; the trace
    // overhead compares the last two, which both find Spark's code
    // generation cache warm for those requests
    val phases = if (o.traced) 3 else 1
    val seqs = Array.fill(phases)(new AtomicInteger(0))
    @volatile var phase = 0
    val windowStart = now()
    var cpu0, io0 = 0.0
    def client(id: Int): Unit = {
      while (now() - windowStart < o.seconds) {
        val p = math.min(phases - 1, ((now() - windowStart) / o.seconds * phases).toInt)
        if (p > phase) synchronized {
          if (p > phase) {
            if (p == 2) {
              cpu0 = processCpuS(); io0 = procIoWriteMb()
              Trace.start(spark.sparkContext)
            }
            phase = p
          }
        }
        val ph = phase
        val traced = Trace.enabled
        val i = seqs(ph).getAndIncrement()
        val t0 = now()
        if (i % deployEvery == deployEvery / 2 && nextVersion.get < versions) {
          val rec = deployLock.synchronized {
            val v = nextVersion.getAndIncrement()
            val sink = s"${o.dir}/sink/v$v"
            val json = readString(s"$manifests/v$v.json")
            val t1 = now()
            try {
              val (cat, res) = Trace.span("op.deploy")(deploy(json, v, sink))
              val ms = (now() - t1) * 1e3
              catalog.set(cat)
              val (bytes, files) = dirBytes(new File(sink))
              if (traced) deployParts(json, v, s"${o.dir}/sink-parts/v$v")
              Map("kind" -> "deploy", "ok" -> true, "ms" -> ms, "version" -> v, "sink" -> sink,
                "metrics" -> res.metrics, "records" -> res.records, "malformed" -> res.malformed,
                "out_path" -> res.outPath, "sink_bytes" -> bytes, "files" -> files)
            } catch { case e: Throwable =>
              Map("kind" -> "deploy", "ok" -> false, "ms" -> (now() - t1) * 1e3, "version" -> v,
                "error" -> e.toString)
            }
          }
          ops.add(rec ++ Map("client" -> id, "t" -> (t0 - windowStart), "traced" -> traced))
        } else {
          val cat = catalog.get
          val r = resolve(cat, new SplittableRandom(Schedule + i), new SplittableRandom(Picks + i))
          val t1 = now()
          val rec = try {
            val rows = Trace.span("op.query")(query(r, base(r.table)))
            val ms = (now() - t1) * 1e3
            if (!results.containsKey(r.key))
              results.putIfAbsent(r.key, Map("version" -> cat.version, "spec" -> r.spec,
                "rows" -> rows.map(cells).toSeq))
            Map("kind" -> "query", "ok" -> true, "ms" -> ms, "key" -> r.key)
          } catch { case e: Throwable =>
            Map("kind" -> "query", "ok" -> false, "ms" -> (now() - t1) * 1e3, "key" -> r.key,
              "error" -> e.toString)
          }
          ops.add(rec ++ Map("client" -> id, "t" -> (t0 - windowStart), "traced" -> traced,
            "qtype" -> r.kind, "version" -> cat.version, "i" -> i, "phase" -> ph))
        }
      }
    }
    val threads = (0 until clients).map(i => new Thread(() => client(i), s"client-$i"))
    threads.foreach(_.start()); threads.foreach(_.join())
    val windowS = now() - windowStart
    val cpu1 = processCpuS(); val io1 = procIoWriteMb()
    val keys = results.asScala.toSeq.sortBy(_._1)
    Files.write(Paths.get(s"${o.out}/results.jsonl"),
      keys.map { case (k, v) => Json.encode(v + ("key" -> k)) }.mkString("", "\n", "\n").getBytes(UTF_8))
    Map("window_s" -> windowS, "ops" -> ops.asScala.toSeq,
      "traced_cpu_s" -> (cpu1 - cpu0), "traced_io_write_mb" -> (io1 - io0)) ++ listenerSummary()
  }
}

/** corpus_funnel / stream_fold: one client runs the capstone funnel
  * (batch) or the landing-cadence fold (stream) to completion on a
  * corpus directory it has not seen before, iteration after iteration. */
final class Corpus(spark: SparkSession, o: GraftBench.Opts, stream: Boolean) extends Work {
  import GraftBench._
  private val funnel = graft.SparkEntry.queries("pipeline_e2e_v2")

  private def corpora: Seq[String] =
    Option(new File(s"${o.dir}/corpora").list()).toSeq.flatten.sorted.map(c => s"${o.dir}/corpora/$c")

  private def batch(dir: String): Array[Row] =
    Trace.span("graft.queries.funnel")(funnel(spark, dir).collect())

  /** One `pipelineIngest` call; returns its rows, the scratch trees it
    * left behind and the bytes the process wrote meanwhile. */
  private def ingest(dir: String): (Array[Row], Seq[File], Double) = {
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    val before = Option(tmp.list()).toSeq.flatten.toSet
    val io0 = procIoWriteMb()
    val rows = Trace.span("graft.streaming.ingest")(
      graft.streaming.EventStreams.pipelineIngest(spark, dir).collect())
    val io = procIoWriteMb() - io0
    (rows, Option(tmp.listFiles()).toSeq.flatten.filter(f => !before(f.getName)), io)
  }

  /** Bytes held by a fold's scratch trees, which are then deleted. */
  private def reclaim(trees: Seq[File]): Long = {
    val bytes = trees.map(f => dirBytes(f)._1).sum
    trees.foreach(deleteTree)
    bytes
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles).toSeq.flatten.foreach(deleteTree); f.delete(); ()
  }

  /** Each graft.ops public call in isolation on the corpus, forced by
    * `count` (traced run only). */
  private def isolatedOps(dir: String): Map[String, Any] = {
    import graft.ops._
    val docs = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
    def op(name: String)(df: => DataFrame): Long = Trace.span(s"op.isolated.$name") {
      Trace.span(s"graft.ops.$name")(df.count())
    }
    op("exact")(Dedup.exact(docs))
    var pairs: DataFrame = null
    val nPairs = op("near_dup_pairs") { pairs = Dedup.ngramJaccard(docs).localCheckpoint(); pairs }
    op("clusters")(Cluster.dedupClusters(docs, pairs))
    op("substring")(Suffix.dupSpanStats(docs))
    op("quality")(TextAnalysis.quality(docs))
    op("decontam")(Contamination.check(docs, docs.filter(col("doc_id") < 25), n = 3, threshold = 0.5))
    Map("near_dup_pairs" -> nPairs)
  }

  private def unpersist(): Unit =
    spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => graft.ops.SharedArtifacts.isProtected(id) }
      .values.foreach(_.unpersist(blocking = false))

  def warm(): Unit = {
    val tiny = s"${o.dir}/tiny/corpus"
    if (stream) reclaim(ingest(tiny)._2) else batch(tiny)
    unpersist()
  }

  /** One `pipelineIngest` call on a corpus the batch funnel has run on
    * (traced corpus_funnel runs only), so graft.streaming is traced there
    * too and its rows can be checked against the batch funnel's. */
  private def streamFold(dir: String): Map[String, Any] = {
    val t0 = now()
    val (rows, trees, io) = Trace.span("op.stream")(ingest(dir))
    Map("dir" -> dir, "s" -> (now() - t0), "rows" -> rows.map(cells).toSeq,
      "state_bytes" -> reclaim(trees), "io_write_mb" -> io)
  }

  def run(): Map[String, Any] = {
    val dirs = corpora
    var busy = 0.0
    val iters = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    var streamed = Map.empty[String, Any]
    // a traced run makes three iterations and traces the last: the trace
    // overhead compares it with the second (the first on real-size data
    // still runs slower while the JIT compiles)
    val last = if (o.traced) math.min(3, dirs.size) else dirs.size
    var i = 0
    while (i < last && (o.traced || i == 0 || busy < o.seconds)) {
      if (o.traced && i == last - 1) Trace.start(spark.sparkContext)
      val dir = dirs(i)
      val traced = Trace.enabled
      val (b0, h0) = graft.ops.SharedArtifacts.counters
      val t0 = now()
      val out = try Right(
        if (stream) Trace.span("op.stream")(ingest(dir))
        else (Trace.span("op.funnel")(batch(dir)), Nil, 0.0))
      catch { case e: Throwable => Left(e.toString) }
      val s = now() - t0
      val rec: Map[String, Any] = out match {
        case Right((rows, trees, io)) if stream =>
          Map("ok" -> true, "rows" -> rows.map(cells).toSeq, "state_bytes" -> reclaim(trees), "io_write_mb" -> io)
        case Right((rows, _, _)) => Map("ok" -> true, "rows" -> rows.map(cells).toSeq)
        case Left(err) => Map("ok" -> false, "error" -> err)
      }
      busy += s
      val (b1, h1) = graft.ops.SharedArtifacts.counters
      val extra = if (traced && rec("ok") == true) isolatedOps(dir) else Map.empty
      if (traced && !stream) streamed = Map("stream" -> streamFold(dir))
      iters += rec ++ extra ++ Map("dir" -> dir, "s" -> s, "traced" -> traced,
        "memo_builds" -> (b1 - b0), "memo_hits" -> (h1 - h0))
      unpersist()
      i += 1
    }
    Json.write(s"${o.out}/oracle.sql", graft.SparkEntry.oracleSql("pipeline_e2e_v2"))
    Map("busy_s" -> busy, "iterations" -> iters.toSeq) ++ streamed ++ listenerSummary()
  }
}
