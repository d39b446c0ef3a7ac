package graftbench

import scala.collection.mutable

/** Turns the spans, jobs and connector calls of the traced operations into
  * per-layer self times and Spark totals.
  *
  * Each traced op is a tree: the op's root span, the layer spans opened
  * under it, the Spark jobs each span submitted, and the executor-side
  * connector calls of each job's tasks. A node's self time is its duration
  * minus the part of it its children cover, so the self times of one op
  * add up to the op's wall time. Whatever is left on the root is time no
  * layer claims.
  */
object Attribution {
  private final class Node(val layer: String, val name: String, val start: Long, val end: Long) {
    val children = mutable.ArrayBuffer.empty[Node]
    def dur: Long = end - start
  }

  /** Length of the union of `ivs` clipped to [lo, hi]. */
  def unionLen(ivs: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    val sorted = ivs.iterator.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toArray.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    sorted.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** `wrapperSelfNs` is the self time of the spans directly under the
    * op's root (DagRunner.run, or the row): the part of the op no layer
    * below them claims.
    */
  final case class OpTrace(wallNs: Long, selfNs: Map[String, Long], jobs: Seq[JobRec],
      jobUnionNs: Long, layerNs: Map[String, Long], layerJobs: Map[String, Int],
      spanNs: Map[(String, String), Long], wrapperSelfNs: Long)

  /** `roots` are the op spans of traced ops; `calls` the executor-side
    * connector calls made during them.
    */
  def ops(roots: Seq[Span], spans: Seq[Span], jobs: Seq[JobRec], calls: Seq[Call]): Seq[OpTrace] = {
    val byParent = spans.groupBy(_.parent)
    roots.map { root =>
      val nodes = mutable.HashMap.empty[Long, Node]
      def build(s: Span): Node = {
        val n = new Node(s.layer, s.name, s.start, s.end)
        nodes(s.id) = n
        byParent.getOrElse(s.id, Nil).foreach(c => n.children += build(c))
        n
      }
      val top = build(root)
      val mine = jobs.filter(j => nodes.contains(j.span) ||
        (j.span == 0L && j.start >= root.start && j.start < root.end))
      val jobNodes = mine.map { j =>
        val n = new Node("spark", if (j.query.nonEmpty) j.query else s"job ${j.id}", j.start, j.end)
        nodes.getOrElse(j.span, top).children += n
        j.id -> n
      }.toMap
      calls.filter(c => c.stage >= 0 && c.start >= root.start && c.start < root.end)
        .foreach(c => Jobs.jobOfStage(c.stage).flatMap(jobNodes.get).foreach(
          _.children += new Node("connector", c.kind, c.start, c.end)))

      val self = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
      // inclusive time and jobs of each layer's outermost spans
      val incl = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
      val layerJobs = mutable.HashMap.empty[String, Int].withDefaultValue(0)
      def selfOf(n: Node): Long =
        n.dur - unionLen(n.children.map(c => (c.start, c.end)), n.start, n.end)
      def walk(n: Node, outerLayers: Set[String]): Unit = {
        self(n.layer) += selfOf(n)
        if (!outerLayers(n.layer)) incl(n.layer) += n.dur
        n.children.foreach(walk(_, outerLayers + n.layer))
      }
      walk(top, Set.empty)
      def countJobs(n: Node, layers: Set[String]): Unit =
        if (n.layer == "spark") layers.foreach(l => layerJobs(l) += 1)
        else n.children.foreach(countJobs(_, layers + n.layer))
      countJobs(top, Set.empty)
      val spanNs = nodes.values.toSeq.groupMapReduce(n => (n.layer, n.name))(_.dur)(_ + _)
      OpTrace(root.end - root.start, self.toMap, mine,
        unionLen(mine.map(j => (j.start, j.end)), root.start, root.end), incl.toMap,
        layerJobs.toMap, spanNs, top.children.filter(_.layer != "spark").map(selfOf).sum)
    }
  }
}
