package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.fixtures.TpchGraph
import graft.graph.GraphOutput
import graft.model._
import graft.pipeline.{PipelineCompiler, ResourceDef, VertexStep}
import graft.store.{EndpointResolve, GraphStore, UpsertReport}

/** The graph the benchmark ingests: TpchGraph's schema and resources plus
  * the bench-owned `reviews` edge, whose customer endpoint is named by the
  * `by_name` secondary identity so the write path resolves it.
  */
final class Graph(spark: SparkSession, inDir: String, spec: JsonNode, span: Tracer) {
  val reviewed: EdgeKey = EdgeKey("customer", "part", "reviewed")
  val schema: GraphSchema = TpchGraph.schema.copy(edges = TpchGraph.schema.edges :+
    EdgeDef("customer", "part", "reviewed", properties = Seq(FieldDef("rating")),
      sourceMatch = Some("by_name")))

  /** (source table, resource) in TpchGraph.ingest's declaration order. */
  val resources: Seq[(String, ResourceDef)] = Seq(
    "region" -> TpchGraph.regionResource, "nation" -> TpchGraph.nationResource,
    "customer" -> TpchGraph.customerResource, "supplier" -> TpchGraph.supplierResource,
    "part" -> TpchGraph.partResource, "orders" -> TpchGraph.ordersResource,
    "lineitem" -> TpchGraph.lineitemResource, "events" -> TpchGraph.eventsResource)
  val batchResources: Seq[(String, ResourceDef)] =
    resources.filter(r => r._1 == "orders" || r._1 == "lineitem")

  def longOf(n: JsonNode): Map[String, Long] =
    n.fields().asScala.map(e => e.getKey -> e.getValue.asLong).toMap

  val inputRows: Long = longOf(spec.get("rows")).values.sum
  val inputBytes: Long = spec.get("input_bytes").asLong
  val expected: Map[String, Long] =
    longOf(spec.get("vertices")).map { case (k, v) => s"vertices/$k" -> v } ++
      longOf(spec.get("edges")).map { case (k, v) => s"edges/$k" -> v }
  val batches: Seq[JsonNode] = spec.get("batches").elements().asScala.toSeq

  /** Vertex docs the resources observe before the merge: one per input row
    * and non-lookup vertex step.
    */
  def observedDocs(rows: Map[String, Long]): Long = resources.map { case (t, r) =>
    rows.getOrElse(t, 0L) * r.steps.count {
      case v: VertexStep => !v.lookupOnly
      case _ => false
    }
  }.sum

  private def table(dir: String, name: String): DataFrame =
    span("sources", s"table:$name") {
      if (name == "events") TpchGraph.eventsTable(spark, dir) else TpchGraph.table(spark, dir, name)
    }

  /** Compile each resource of `which` over the tables in `dir`. */
  def compile(dir: String, which: Seq[(String, ResourceDef)]): GraphOutput =
    which.map { case (t, r) =>
      val df = table(dir, t)
      span("pipeline", s"compile:${r.name}")(PipelineCompiler.compile(schema, r, df))
    }.reduceLeft(_ unionWith _)

  /** The full graph of the base tables, reviews included. */
  def full(): GraphOutput = {
    val dir = s"$inDir/base"
    val reviews = table(dir, "reviews")
    compile(dir, resources).unionWith(GraphOutput(Map.empty, Map(reviewed -> reviews.select(
      col("c_name").as("src_c_name"), col("p_partkey").as("dst_p_partkey"), col("rating")))))
  }

  /** Incremental batch `i`: its orders and lineitems, plus orders docs that
    * carry no identity. The compiler drops unkeyed docs itself, so these go
    * straight into the writer's input, where the upsert must count them.
    */
  def batch(i: Int): GraphOutput = {
    val dir = s"$inDir/${batches(i).get("dir").asText}"
    val unkeyed = span("sources", "table:unkeyed")(spark.read.parquet(s"$dir/unkeyed.parquet"))
    compile(dir, batchResources).unionWith(GraphOutput(Map("orders" -> unkeyed), Map.empty))
  }

  def store(root: String): GraphStore = new GraphStore(root, schema, spark)

  /** The write path of GraphStore.writeReport, one call at a time, each in
    * its own span: upserts, then endpoint resolution and edge inserts, then
    * the index.
    */
  def writeInSpans(store: GraphStore, g: GraphOutput): Seq[UpsertReport] = {
    val reports = g.vertices.toSeq.sortBy(_._1).map { case (name, df) =>
      span("store", s"upsert:$name")(store.upsertVertices(name, df))
    }
    g.edges.toSeq.sortBy(_._1.storeName).foreach { case (k, df) =>
      val edef = schema.edgeByKey.getOrElse(k, EdgeDef(k.source, k.target, k.relation))
      var e = df
      edef.sourceMatch.foreach { m =>
        e = span("store", s"endpoint_resolve:${k.storeName}")(EndpointResolve.resolve(
          e, store.vertices(k.source), schema.vertex(k.source), m, "src_", edef.ambiguity))
      }
      edef.targetMatch.foreach { m =>
        e = span("store", s"endpoint_resolve:${k.storeName}")(EndpointResolve.resolve(
          e, store.vertices(k.target), schema.vertex(k.target), m, "dst_", edef.ambiguity))
      }
      span("store", s"insert_edges:${k.storeName}")(store.insertEdges(k, e))
    }
    span("store", "index")(store.writeIndex())
    reports
  }

  /** The parquet files of each collection's current version, by
    * `vertices/<name>` or `edges/<src__rel__tgt>`.
    */
  private def liveFiles(root: String): Map[String, Seq[Path]] = {
    def under(p: Path): Seq[Path] =
      if (Files.isDirectory(p)) Files.list(p).iterator().asScala.toSeq.sorted else Nil
    Seq("vertices", "edges").flatMap(s => under(Paths.get(root, s))).map { c =>
      val cur = c.resolve("_CURRENT")
      s"${c.getParent.getFileName}/${c.getFileName}" -> (if (!Files.exists(cur)) Nil
        else under(c.resolve("v" + new String(Files.readAllBytes(cur)).trim))
          .filter(_.getFileName.toString.endsWith(".parquet")))
    }.toMap
  }

  /** Row count of every live collection, from the parquet footers of the
    * files a reader of the store would scan.
    */
  def storeCounts(store: GraphStore): Map[String, Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    liveFiles(store.root).map { case (name, files) =>
      name -> files.map { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(new HPath(f.toUri), conf))
        try r.getRecordCount finally r.close()
      }.sum
    }
  }

  /** Bytes of the parquet files in each collection's current version. */
  def liveBytes(root: String): Long = liveFiles(root).values.flatten.map(Files.size).sum
}
