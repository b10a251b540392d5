package graftbench

import scala.collection.mutable

/** Per-layer metrics of a traced run, named after graft's modules. Every
  * metric is always reported; a layer the workload does not call reads 0.
  */
object LayerMetrics {

  /** What the trace alone cannot tell: sizes known to the benchmark. */
  final class Inputs {
    var plainIngestMs = 0.0
    var tracedIngestMs = 0.0
    var inputRows = 0L
    var inputBytes = 0L
    var batchRows = 0L
    var batchBytes = 0L
    var observedDocs = 0L
    var verticesEmitted = 0L
    var edgesEmitted = 0L
    var droppedUnkeyed = 0L
    var filesWritten = 0L
    val readElements = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  }

  val Resources = Seq("r_region", "r_nation", "r_customer", "r_supplier", "r_part", "r_orders",
    "r_lineitem", "r_events")
  val ReadKinds = Seq("node", "aggregate", "neighbors1", "neighbors2", "traverse")
  val Algorithms = Seq("pagerank", "label_prop", "kcore", "sssp")

  def of(v: TraceView, in: Inputs): Seq[(String, (Double, String))] = {
    import Main.{mean, median}
    def named(layer: String, prefix: String) =
      v.spans.filter(s => s.layer == layer && s.name.startsWith(prefix))
    def wall(ss: Seq[Span]) = ss.map(_.wallMs).sum
    def total(ss: Seq[Span]) = ss.map(v.total).foldLeft(JobStats(0, None, 0, 0))(_ + _)
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b

    val pipeline = v.spans.filter(_.layer == "pipeline")
    val storeWrites = v.spans.filter(s => s.layer == "store" && !s.name.startsWith("read:"))
    val upserts = named("store", "upsert:")
    val writes = total(storeWrites)
    val pipe = total(pipeline)
    val out = mutable.ArrayBuffer.empty[(String, (Double, String))]
    def put(n: String, value: Double, unit: String): Unit = out += n -> (value, unit)

    put("sources.read_ms", wall(v.spans.filter(_.layer == "sources")), "ms")
    put("sources.records_read", pipe.inputRecords.toDouble, "count")
    put("sources.bytes_read", pipe.inputBytes.toDouble, "bytes")

    put("pipeline.compile_ms", wall(named("pipeline", "compile:")), "ms")
    Resources.foreach(r => put(s"pipeline.compile_ms.$r", wall(named("pipeline", s"compile:$r")), "ms"))
    put("pipeline.build_ms", wall(named("pipeline", "build")), "ms")
    put("pipeline.jobs", pipeline.map(v.jobsUnder(_).size).sum.toDouble, "count")
    put("pipeline.shuffle_bytes", pipe.shuffleWriteBytes.toDouble, "bytes")
    put("pipeline.vertices_emitted", in.verticesEmitted.toDouble, "count")
    put("pipeline.edges_emitted", in.edgesEmitted.toDouble, "count")
    put("pipeline.merge_ratio", ratio(in.verticesEmitted, in.observedDocs), "ratio")

    put("store.upsert_ms", wall(upserts), "ms")
    put("store.upsert_shuffle_bytes", total(upserts).shuffleWriteBytes.toDouble, "bytes")
    put("store.endpoint_resolve_ms", wall(named("store", "endpoint_resolve:")), "ms")
    put("store.insert_edges_ms", wall(named("store", "insert_edges:")), "ms")
    put("store.index_ms", wall(named("store", "index")), "ms")
    put("store.jobs", storeWrites.map(v.jobsUnder(_).size).sum.toDouble, "count")
    put("store.bytes_written", writes.outputBytes.toDouble, "bytes")
    put("store.files_written", in.filesWritten.toDouble, "count")
    put("store.write_amplification", ratio(writes.outputBytes, in.inputBytes), "ratio")
    put("store.rows_rewritten_per_incoming_row", ratio(writes.outputRecords, in.inputRows), "ratio")
    put("store.dropped_unkeyed", in.droppedUnkeyed.toDouble, "count")
    put("store.read_ms", wall(named("store", "read:")), "ms")

    ReadKinds.foreach { k =>
      val ss = named("query", k).filter(_.name == k)
      put(s"query.${k}_ms", median(ss.map(_.wallMs)), "ms")
      put(s"query.${k}_jobs", mean(ss.map(v.jobsUnder(_).size.toDouble)), "count")
      put(s"query.${k}_driver_ms", median(ss.map(v.driverMs)), "ms")
      put(s"query.${k}_elements", mean(in.readElements.get(k).map(_.toSeq).getOrElse(Nil)), "count")
    }
    Algorithms.foreach { a =>
      val ss = named("graph", a).filter(_.name == a)
      put(s"graph.${a}_ms", median(ss.map(_.wallMs)), "ms")
      put(s"graph.${a}_jobs", mean(ss.map(v.jobsUnder(_).size.toDouble)), "count")
      put(s"graph.${a}_shuffle_bytes", mean(ss.map(v.total(_).shuffleWriteBytes.toDouble)), "bytes")
      put(s"graph.${a}_driver_ms", median(ss.map(v.driverMs)), "ms")
    }

    val top = v.roots.filter(_.layer == "bench")
    put("trace.overhead_ms", in.tracedIngestMs - in.plainIngestMs, "ms")
    put("trace.overhead_pct", 100 * ratio(in.tracedIngestMs - in.plainIngestMs, in.plainIngestMs), "%")
    put("trace.top_wall_ms", wall(top), "ms")
    put("trace.top_self_ms", top.map(v.selfMs).sum, "ms")
    put("trace.children_ms", wall(top.flatMap(v.children)), "ms")
    put("trace.spans", v.spans.size.toDouble, "count")
    put("trace.jobs", v.jobs.size.toDouble, "count")
    out.toSeq
  }
}
