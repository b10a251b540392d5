package graftbench

import org.apache.spark.sql.Row

/** Output checks. Each returns the reasons the output is wrong; an empty
  * list means correct. [[Tally]] counts an operation as failed when it
  * threw or a check found a reason.
  */
object Checks {

  /** Store collection sizes against the generator's expectation. */
  def counts(expected: Map[String, Long], actual: Map[String, Long]): Seq[String] =
    expected.toSeq.sorted.flatMap { case (name, want) =>
      val got = actual.getOrElse(name, -1L)
      if (got == want) None else Some(s"$name has $got rows, expected $want")
    }

  def droppedUnkeyed(expected: Long, actual: Long): Seq[String] =
    if (expected == actual) Nil
    else Seq(s"dropped_unkeyed is $actual, expected the $expected injected")

  /** A filter is (field, op, value) with op one of `==`, `<=`. */
  final case class Filter(field: String, op: String, value: Any) {
    def holds(row: Row): Boolean = {
      val v = row.getAs[Any](field)
      op match {
        case "==" => v != null && v.toString == value.toString
        case "<=" => v != null && BigDecimal(v.toString) <= BigDecimal(value.toString)
        case other => throw new IllegalArgumentException(s"unknown filter op $other")
      }
    }
  }

  /** Node results honour the filter and the limit, and return every match
    * up to the limit.
    */
  def node(rows: Seq[Row], filters: Seq[Filter], limit: Int, matches: Long): Seq[String] = {
    val bad = rows.filterNot(r => filters.forall(_.holds(r)))
    val want = math.min(limit.toLong, matches)
    (if (rows.size > limit) Seq(s"node returned ${rows.size} rows over limit $limit") else Nil) ++
      (if (bad.nonEmpty) Seq(s"node returned ${bad.size} rows failing the filter") else Nil) ++
      (if (rows.size != want) Seq(s"node returned ${rows.size} rows, expected $want") else Nil)
  }

  /** COUNT-by-discriminant groups sum to the collection size. */
  def aggregate(groups: Map[Any, Long], size: Long, nGroups: Int): Seq[String] =
    (if (groups.values.sum != size)
      Seq(s"aggregate groups sum to ${groups.values.sum}, collection has $size") else Nil) ++
      (if (groups.size != nGroups) Seq(s"aggregate has ${groups.size} groups, expected $nGroups")
      else Nil)

  /** A traversal stays within the element cap. */
  def traversal(elements: Long, cap: Int): Seq[String] =
    if (elements > cap) Seq(s"traversal returned $elements elements over cap $cap") else Nil

  /** A one-hop result only holds edges incident to the anchor. */
  def oneHop(offAnchorEdges: Long): Seq[String] =
    if (offAnchorEdges > 0) Seq(s"$offAnchorEdges one-hop edges miss the anchor") else Nil

  /** Fixed-point PageRank over a graph with no dangling node keeps its
    * mass, up to the integer truncation of each share.
    */
  def pageRankMass(total: Long, scale: Long, tolerance: Double = 1e-4): Seq[String] =
    if (math.abs(total.toDouble - scale) <= tolerance * scale) Nil
    else Seq(s"PageRank mass $total, expected $scale within $tolerance")

  def ssspSource(sourceDist: Option[Long], minDist: Long): Seq[String] =
    (if (!sourceDist.contains(0L)) Seq(s"SSSP source distance is $sourceDist, expected 0") else Nil) ++
      (if (minDist < 0) Seq(s"SSSP has negative distance $minDist") else Nil)

  def kCore(minDegree: Long, k: Int, nodes: Long): Seq[String] =
    if (nodes == 0 || minDegree >= k) Nil
    else Seq(s"k-core keeps a node of degree $minDegree < $k")

  /** The top span's wall is its children's time plus its own self time. */
  def spanArithmetic(wallMs: Double, childrenMs: Double, selfMs: Double): Seq[String] =
    if (math.abs(childrenMs + selfMs - wallMs) <= 1e-6 * math.max(1.0, wallMs)) Nil
    else Seq(f"children $childrenMs%.3f ms + self $selfMs%.3f ms != wall $wallMs%.3f ms")
}

/** Attempted and failed operations of one run. */
final class Tally {
  var attempted = 0L
  var failed = 0L
  val reasons = scala.collection.mutable.ArrayBuffer.empty[String]

  /** Record one operation from the reasons its checks found. */
  def record(op: String, problems: Seq[String]): Unit = {
    attempted += 1
    if (problems.nonEmpty) {
      failed += 1
      if (reasons.size < 20) reasons += s"$op: ${problems.mkString("; ")}"
    }
  }
}
