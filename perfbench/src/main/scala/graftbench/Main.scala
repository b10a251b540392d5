package graftbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.expr.FilterExpr
import graft.graph.{GraphAlgos, GraphOutput}
import graft.model.EdgeKey
import graft.query._
import graft.store.{GraphStore, UpsertReport}

/** One benchmark run in a fresh JVM: set-up, then a closed loop with one
  * client for `--seconds` of operation time, every output checked. With
  * `--trace 1` the same calls run inside spans and the run reports
  * per-layer metrics instead of end-to-end ones.
  *
  *   Main --workload ingest|read_mix|analytics --in <generated input>
  *        --work <scratch dir> --seconds <s> --trace 0|1 --out <result file>
  *        --cores <n>
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val cores = a("cores")
    val work = a("work")
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val run = new Run(spark, a("workload"), a("in"), work, a("seconds").toDouble,
        a("trace") == "1")
      Files.write(Paths.get(a("out")), run.execute().getBytes("UTF-8"))
    } finally spark.stop()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }

  /** Quantile of the operation mix the workload specifies, estimated from a
    * stratified sample: the samples of each kind share that kind's weight,
    * so the estimate does not move with how many of each kind happened to
    * fit in the run. Kinds without a sample drop out. Each sample sits at
    * the middle of its share of the cumulative weight and the quantile
    * interpolates linearly between samples (with equal weights, the Hazen
    * percentile), so it does not jump from one sample to the next.
    */
  def mixQuantile(samples: Seq[(String, Double)], weights: Map[String, Double], p: Double): Double = {
    if (samples.isEmpty) return 0.0
    val n = samples.groupBy(_._1).view.mapValues(_.size).toMap
    val weighted = samples.map { case (k, v) => (v, weights(k) / n(k)) }.sortBy(_._1)
    val total = weighted.map(_._2).sum
    val mids = weighted.scanLeft(0.0)(_ + _._2).zip(weighted).map { case (before, (v, w)) =>
      ((before + w / 2) / total, v)
    }
    mids.zip(mids.tail).collectFirst { case ((p0, v0), (p1, v1)) if p <= p1 =>
      if (p <= p0) v0 else v0 + (v1 - v0) * (p - p0) / (p1 - p0)
    }.getOrElse(mids.last._2)
  }

  /** Operations per second of the mix: the inverse of its weighted mean
    * latency per kind.
    */
  def mixRate(samples: Seq[(String, Double)], weights: Map[String, Double]): Double = {
    val means = samples.groupBy(_._1).map { case (k, xs) => k -> mean(xs.map(_._2)) }
    val total = means.keys.toSeq.map(weights).sum
    1000.0 / means.map { case (k, m) => weights(k) / total * m }.sum
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}

final class Run(spark: SparkSession, workload: String, inDir: String, work: String,
    seconds: Double, traced: Boolean) {
  import Main._

  private val PageRankScale = 1000000000000L
  private val sc = spark.sparkContext
  private val spec: JsonNode = new ObjectMapper().readTree(Paths.get(inDir, "spec.json").toFile)
  private val listener = new JobListener
  sc.addSparkListener(listener)
  private val trace = if (traced) Some(new Trace) else None
  private val span = new Tracer(trace, sc)
  private val plain = new Graph(spark, inDir, spec, new Tracer(None, sc))
  private val graph = new Graph(spark, inDir, spec, span)
  private val tally = new Tally
  /** (kind, ms) of every operation of the loop. */
  private val latencies = mutable.ArrayBuffer.empty[(String, Double)]
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val inputs = new LayerMetrics.Inputs
  /** Raw timings reported beside the metrics, for reading a run. */
  private val diagnostics = mutable.LinkedHashMap.empty[String, Seq[Double]]
  private var storeSeq = 0

  private def timedMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e6)
  }

  /** Time one operation, then check its output; a throw is a failure. */
  private def op[T](name: String)(call: => T)(check: T => Seq[String]): Double = {
    val (out, ms) = timedMs(Try(call))
    val key = s"ms.${name.takeWhile(_ != ':')}"
    diagnostics(key) = diagnostics.getOrElse(key, Nil) :+ ms
    out match {
      case Success(v) => tally.record(name, check(v))
      case Failure(e) =>
        tally.record(name, Seq(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}"))
    }
    ms
  }

  /** Fresh full ingest into a new store, checked against the generator. In
    * the traced run the write path runs call by call inside spans, after a
    * cached materialize of the compiled graph.
    */
  private def freshIngest(inSpans: Boolean): (GraphStore, Double) = {
    storeSeq += 1
    val g = if (inSpans) graph else plain
    val store = g.store(s"$work/store-$storeSeq")
    val (cached, ms) = timedMs {
      if (!inSpans) { store.writeReport(g.full()); None }
      else {
        val out = g.full()
        val c = span("pipeline", "build") { val c = out.cache(); c.materialize(); c }
        g.writeInSpans(store, c)
        Some(c)
      }
    }
    cached.foreach { c =>
      inputs.verticesEmitted = c.vertices.values.map(_.count()).sum
      inputs.edgesEmitted = c.edges.values.map(_.count()).sum
      c.unpersist()
    }
    tally.record("fresh_ingest", Checks.counts(g.expected, g.storeCounts(store)))
    (store, ms)
  }

  // ------------------------------------------------------------ workloads

  private var store: GraphStore = _
  private var reader: GraphReader = _
  private var analyticsEdges: DataFrame = _

  /** Batches the ingest workload applies while warming up. */
  private val WarmupBatches = 1

  /** Per-workload state on a freshly built store, then a warm-up: so few
    * operations fit in a run that cold first calls would otherwise set its
    * figures. Ingest applies the first batch, read_mix makes a node, an
    * aggregate and a one-hop read. Analytics does not warm up: a pass is
    * long enough to absorb its own cold start, and a second would not fit.
    */
  private def prepare(s: GraphStore): Unit = {
    store = s
    workload match {
      case "ingest" => (0 until WarmupBatches).foreach(batch(_, "warmup:"))
      case "read_mix" =>
        reader = new GraphReader(graph.schema,
          v => span("store", s"read:$v")(s.vertices(v)),
          k => span("store", s"read:${k.storeName}")(s.readEdges(k)))
        spec.get("warmup").elements().asScala.foreach(read(_, "warmup:"))
      case "analytics" =>
        if (analyticsEdges != null) analyticsEdges.unpersist()
        analyticsEdges = span("graph", "edges") {
          val contains = s.edges(EdgeKey("orders", "part", "contains")).select(
            concat(lit("o:"), col("src_o_orderkey")).as("src"),
            concat(lit("p:"), col("dst_p_partkey")).as("dst"),
            col("l_quantity").cast("long").as("w"))
          val placed = s.edges(EdgeKey("orders", "customer", "placed_by")).select(
            concat(lit("o:"), col("src_o_orderkey")).as("src"),
            concat(lit("c:"), col("dst_c_custkey")).as("dst"), lit(1L).as("w"))
          val one = contains.unionByName(placed)
          // both directions: no vertex is dangling, so PageRank keeps its mass
          val both = one.unionByName(one.select(col("dst").as("src"), col("src").as("dst"),
            col("w"))).persist(StorageLevel.MEMORY_AND_DISK)
          both.count()
          both
        }
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  private val reads = spec.get("reads").elements().asScala.toIndexedSeq

  /** The closed loop: operations (an analytics pass counting as one) back to
    * back while one more of the mean length so far fits in `seconds` of
    * operation time; checks run between operations, off the clock. The
    * traced run makes a fixed number instead, so its counts repeat exactly:
    * three batches, the first ten reads, one pass.
    */
  private def loop(): Unit = {
    val first = if (workload == "ingest") WarmupBatches else 0
    var i = first
    def fits = i == first ||
      latencies.map(_._2).sum * (i - first + 1) / (i - first) <= seconds * 1000
    def more: Boolean = workload match {
      case "ingest" => i < (if (traced) first + 3 else graph.batches.size) && (traced || fits)
      case "read_mix" => i < (if (traced) 10 else reads.size) && (traced || fits)
      case _ => if (traced) i < 1 else fits
    }
    while (more) {
      workload match {
        case "ingest" => latencies += "batch" -> batch(i, "")
        case "read_mix" => latencies += reads(i).get("kind").asText -> read(reads(i))
        case _ =>
          val pass = analyticsPass()
          latencies ++= pass
          diagnostics("pass_ms") = diagnostics.getOrElse("pass_ms", Nil) :+ pass.map(_._2).sum
      }
      i += 1
    }
    if (workload == "ingest") {
      val last = graph.batches(i - 1)
      val want = graph.longOf(last.get("vertices")).map { case (k, v) => s"vertices/$k" -> v } ++
        graph.longOf(last.get("edges")).map { case (k, v) => s"edges/$k" -> v }
      val got = graph.storeCounts(store)
      tally.record("batch_counts", Checks.counts(want, want.keys.map(k => k -> got(k)).toMap))
    }
  }

  /** One incremental batch: compile its tables and upsert it into the store. */
  private def batch(i: Int, tag: String): Double = {
    val b = graph.batches(i)
    inputs.batchRows += b.get("rows").asLong
    inputs.batchBytes += b.get("bytes").asLong
    op(s"${tag}batch:$i")(span("ingest", s"${tag}batch:$i") {
      val g = graph.batch(i)
      if (!traced) store.writeReport(g).upserts
      else {
        val c = span("pipeline", "build") { val c = g.cache(); c.materialize(); c }
        try graph.writeInSpans(store, c) finally c.unpersist()
      }
    }) { (reports: Seq[UpsertReport]) =>
      val dropped = reports.map(_.droppedUnkeyed).sum
      inputs.droppedUnkeyed += dropped
      Checks.droppedUnkeyed(b.get("unkeyed").asLong, dropped)
    }
  }

  private def filterOf(fs: Seq[Checks.Filter]): FilterExpr =
    FilterExpr.And(fs.map(f => FilterExpr.Cmp(f.field, FilterExpr.CmpOp.fromToken(f.op), f.value)))

  private def elements(kind: String, n: Long): Unit =
    inputs.readElements.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += n.toDouble

  /** A traversal's checks, run on its cached result, which is then released. */
  private def walked(kind: String, extra: GraphOutput => Seq[String])(g: GraphOutput): Seq[String] =
    try {
      val n = g.materialize()
      elements(kind, n)
      Checks.traversal(n, QueryCaps.Hard.maxElements) ++ extra(g)
    } finally g.unpersist()

  /** One read of the mix, timed until its results reach the client. */
  private def read(r: JsonNode, tag: String = ""): Double = {
    val kind = r.get("kind").asText
    val vertex = r.get("vertex").asText
    def q[T](call: => T) = span("query", tag + kind)(call)
    def op[T](name: String)(call: => T)(check: T => Seq[String]) = this.op(tag + name)(call)(check)
    kind match {
      case "node" =>
        val fs = r.get("filters").elements().asScala.toSeq.map { f =>
          val v = f.get(2)
          Checks.Filter(f.get(0).asText, f.get(1).asText, if (v.isNumber) v.asInt else v.asText)
        }
        val limit = spec.get("node_limit").asInt
        op(kind)(q(reader.node(NodeQuery(vertex, Some(filterOf(fs)), limit = Some(limit)))
          .collect().toSeq)) { rows =>
          elements(tag + kind, rows.size)
          Checks.node(rows, fs, limit, r.get("matches").asLong)
        }
      case "aggregate" =>
        val by = r.get("by").asText
        op(kind)(q(reader.aggregate(AggregateQuery(vertex, "COUNT", discriminant = Some(by)))
          .collect().toSeq)) { rows =>
          elements(tag + kind, rows.size)
          Checks.aggregate(rows.map(x => (x.get(0): Any) -> x.getAs[Long]("_value")).toMap,
            graph.expected(s"vertices/$vertex"),
            spec.get("aggregate_groups").get(s"$vertex.$by").asInt)
        }
      case "neighbors1" =>
        val id = r.get("id").asText
        val idCol = graph.schema.vertex(vertex).idColumns.head
        op(kind)(q(reader.neighbors(NeighborQuery.byId(vertex, id, hops = 1))))(walked(tag + kind, g =>
          Checks.oneHop(g.edges.map { case (k, e) =>
            val touch = Seq(k.source -> s"src_$idCol", k.target -> s"dst_$idCol").collect {
              case (t, c) if t == vertex && e.columns.contains(c) => e(c).cast("string") === id
            }.foldLeft(lit(false))(_ || _)
            e.select(when(touch, 0L).otherwise(1L).as("off"))
          }.reduceOption(_ union _).map(_.agg(sum("off")).first())
            .filter(!_.isNullAt(0)).map(_.getLong(0)).getOrElse(0L))))
      case "neighbors2" =>
        op(kind)(q(reader.neighbors(NeighborQuery.byId(vertex, r.get("id").asText, hops = 2,
          relations = Seq("placed_by", "contains")))))(walked(tag + kind, _ => Nil))
      case "traverse" =>
        val ids = r.get("ids").elements().asScala.map(n => vertex -> n.asText).toSeq
        op(kind)(q(reader.traverseQuery(TraverseQuery(Nil, hops = 2,
          relations = Seq("placed_by", "contains"), seedIds = ids))))(walked(tag + kind, _ => Nil))
    }
  }

  /** One pass of the four algorithms over the contains ∪ placed_by edges,
    * each forced by one aggregate that also feeds its check. Returns the
    * latency of each call.
    */
  private def analyticsPass(): Seq[(String, Double)] = {
    val e = analyticsEdges
    val source = spec.get("sssp_source").asText
    def algo[T](name: String)(call: => T)(check: T => Seq[String]) =
      name -> op(name)(span("graph", name)(call))(check)
    Seq(algo("pagerank")(GraphAlgos.pageRankFixed(e, "src", "dst", 10, scale = PageRankScale)
      .agg(sum("rank")).first().getLong(0)) { total =>
      Checks.pageRankMass(total, PageRankScale)
    }, algo("label_prop")(GraphAlgos.labelPropagation(e, "src", "dst", 5)
      .agg(count(lit(1)), countDistinct("label")).first()) { r =>
      if (r.getLong(1) >= 1 && r.getLong(1) <= r.getLong(0)) Nil
      else Seq(s"label propagation gave ${r.getLong(1)} labels for ${r.getLong(0)} nodes")
    }, algo("kcore")(GraphAlgos.kCore(e, "src", "dst", 3, 10)
      .agg(count(lit(1)), min("deg")).first()) { r =>
      Checks.kCore(if (r.isNullAt(1)) 0L else r.getLong(1), 3, r.getLong(0))
    }, algo("sssp")(GraphAlgos.shortestPathsFixed(e, "src", "dst", "w", source, 4)
      .agg(max(when(col("node") === source, col("dist"))), min("dist")).first()) { r =>
      Checks.ssspSource(if (r.isNullAt(0)) None else Some(r.getLong(0)), r.getLong(1))
    })
  }

  // ------------------------------------------------------------ run + report

  def execute(): String = {
    spark.range(1000).selectExpr("sum(id)").collect()
    if (traced) traceRun()
    else {
      // set-up: the store the loop starts from, then the workload's own state
      val (s, ingestMs) = freshIngest(inSpans = false)
      val storeBytes = plain.liveBytes(s.root)
      val prepareMs = timedMs(prepare(s))._2
      loop()
      put("setup_s", (ingestMs + prepareMs) / 1000, "s")
      put("ingest_rows_per_s", plain.inputRows / (ingestMs / 1000), "rows/s")
      val w = mix
      put("op_p50_ms", mixQuantile(latencies.toSeq, w, 0.5), "ms")
      put("op_p90_ms", mixQuantile(latencies.toSeq, w, 0.9), "ms")
      put("ops_per_s", mixRate(latencies.toSeq, w), "1/s")
      put("peak_rss_mb", peakRssMb(), "MB")
      put("store_bytes_per_input_byte", storeBytes.toDouble / plain.inputBytes, "ratio")
    }
    report()
  }

  private def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** Share of each operation kind in the workload: the read mix, equal
    * shares for the four algorithms, a single kind for batches.
    */
  private def mix: Map[String, Double] = workload match {
    case "read_mix" => graph.longOf(spec.get("mix")).map { case (k, v) => k -> v.toDouble }
    case "analytics" => Seq("pagerank", "label_prop", "kcore", "sssp").map(_ -> 1.0).toMap
    case _ => Map("batch" -> 1.0)
  }

  /** Traced run: an untraced fresh ingest for reference, then the traced
    * fresh ingest and loop under one top span.
    */
  private def traceRun(): Unit = {
    inputs.plainIngestMs = freshIngest(inSpans = false)._2
    span("bench", workload) {
      val (s, ms) = freshIngest(inSpans = true)
      inputs.tracedIngestMs = ms
      span("bench", "prepare")(prepare(s))
      loop()
    }
    val view = trace.get.analyze(listener.drained(sc))
    Files.write(Paths.get(work, "trace.json"), view.toJson.getBytes("UTF-8"))
    inputs.inputRows = plain.inputRows + inputs.batchRows
    inputs.inputBytes = plain.inputBytes + inputs.batchBytes
    inputs.observedDocs = plain.observedDocs(plain.longOf(spec.get("rows")))
    inputs.filesWritten = Files.walk(Paths.get(store.root)).iterator().asScala
      .count(_.getFileName.toString.endsWith(".parquet")).toLong
    LayerMetrics.of(view, inputs).foreach { case (n, (v, u)) => put(n, v, u) }
    val top = view.roots.find(_.layer == "bench").get
    tally.record("span_arithmetic", Checks.spanArithmetic(top.wallMs,
      view.children(top).map(_.wallMs).sum, view.selfMs(top)))
  }

  private def report(): String = {
    def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "'") + "\""
    val ms = metrics.map { case (n, (v, u)) =>
      s"${str(n)}: {\"value\": ${if (v.isNaN || v.isInfinite) "null" else v.toString}, " +
        s"\"unit\": ${str(u)}}"
    }.mkString(", ")
    s"""{"correct": ${tally.failed == 0}, "attempted": ${tally.attempted}, """ +
      s""""failed": ${tally.failed}, "metrics": {$ms}, "ops": ${latencies.size}, """ +
      diagnostics.map { case (k, v) => s"${str(k)}: ${v.map(x => f"$x%.1f").mkString("[", ", ", "]")}, " }
        .mkString +
      s""""failures": ${tally.reasons.map(str).mkString("[", ", ", "]")}}"""
  }
}
