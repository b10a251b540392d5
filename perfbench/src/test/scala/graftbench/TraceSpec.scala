package graftbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  private def span(id: Int, parent: Option[Int], start: Double, end: Double) =
    Span(id, parent, "layer", s"s$id", start, end)

  test("union of intervals merges overlaps and skips empty ones") {
    assert(Trace.unionMs(Nil) == 0.0)
    assert(Trace.unionMs(Seq((0.0, 10.0), (5.0, 15.0), (20.0, 25.0))) == 20.0)
    assert(Trace.unionMs(Seq((3.0, 3.0), (8.0, 2.0))) == 0.0)
    assert(Trace.unionMs(Seq((0.0, 10.0), (2.0, 3.0))) == 10.0)
  }

  test("self time is wall minus the children's cover; children plus self make the wall") {
    val top = span(1, None, 0, 100)
    val v = new TraceView(Seq(top, span(2, Some(1), 10, 30), span(3, Some(1), 40, 70),
      span(4, Some(3), 45, 50)), Nil)
    assert(v.selfMs(top) == 50.0)
    assert(v.selfMs(span(3, Some(1), 40, 70)) == 25.0)
    val kids = v.children(top).map(_.wallMs).sum
    assert(Checks.spanArithmetic(top.wallMs, kids, v.selfMs(top)).isEmpty)
    assert(Checks.spanArithmetic(top.wallMs, kids + 1, v.selfMs(top)).nonEmpty)
  }

  test("a job belongs to the span its thread named, else to the innermost span around it") {
    val spans = Seq(span(1, None, 0, 100), span(2, Some(1), 10, 60), span(3, Some(2), 20, 30))
    val jobs = Seq(
      JobStats(0, Some(2), 25, 28, taskMs = 3), // named: wins over the window
      JobStats(1, None, 22, 29, taskMs = 5),     // window: innermost is span 3
      JobStats(2, None, 70, 90, taskMs = 7),     // window: only the top span
      JobStats(3, None, 150, 160))               // outside every span
    val v = new TraceView(spans, jobs)
    assert(v.owner(0).id == 2 && v.owner(1).id == 3 && v.owner(2).id == 1)
    assert(!v.owner.contains(3))
    assert(v.jobsUnder(spans(1)).map(_.id).toSet == Set(0, 1))
    assert(v.total(spans.head).taskMs == 15)
    // driver time: wall minus the union of job intervals ([22, 29] and
    // [70, 90]), clipped to the span
    assert(v.driverMs(spans(1)) == 50.0 - 7.0)
    assert(v.driverMs(spans.head) == 100.0 - 7.0 - 20.0)
  }

  test("the listener attributes real jobs and their counters to the spans that ran them") {
    val spark = SparkSession.builder().master("local[2]").appName("trace-spec")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    try {
      val listener = new JobListener
      spark.sparkContext.addSparkListener(listener)
      def traced(): TraceView = {
        val t = new Trace
        val tr = new Tracer(Some(t), spark.sparkContext)
        tr("bench", "top") {
          tr("pipeline", "scan")(spark.range(1000).selectExpr("sum(id)").collect())
          tr("store", "shuffle")(spark.range(2000).repartition(2).selectExpr("count(*)").collect())
        }
        t.analyze(listener.drained(spark.sparkContext).filter(j => j.submitMs >= t.spans.head.startMs))
      }
      val v = traced()
      val scan = v.spans.find(_.name == "scan").get
      val shuffle = v.spans.find(_.name == "shuffle").get
      assert(v.jobsUnder(scan).nonEmpty && v.jobsUnder(shuffle).nonEmpty)
      assert(v.total(shuffle).shuffleWriteBytes > 0)
      val top = v.roots.head
      assert(v.jobsUnder(top).size == v.jobs.count(j => v.owner.contains(j.id)))
      assert(v.driverMs(top) >= 0 && v.driverMs(top) <= top.wallMs)
      // the same calls again give the same jobs and shuffle volume
      val again = traced()
      def shape(x: TraceView) = x.spans.sortBy(_.id).map(s =>
        (s.name, x.jobsUnder(s).size, x.total(s).shuffleWriteBytes, x.total(s).tasks))
      assert(shape(v) == shape(again))
    } finally spark.stop()
  }
}
