package graft.model

import org.apache.spark.sql.SparkSession

/** A node of the model DAG: anything `dbt run` would schedule — a seed
  * load, a view/table materialization, a tracking-table build, or an
  * `omnata_push` run. `deps` are the names the reference declares with
  * `-- depends_on: {{ ref(...) }}` comments
  * (`integration_tests/models/salesforce_loads/accounts_load.sql:1-2`;
  * required per `README.md:75` so tracking tables exist before the push
  * model anti-joins them).
  */
final case class DagNode(
    name: String,
    deps: Set[String],
    run: SparkSession => Unit)

/** `dbt run`'s scheduler, engine-side: deterministic topological
  * execution of the model DAG with the two failure modes dbt diagnoses
  * at parse time — unknown references and dependency cycles — surfaced
  * as errors that name the offending nodes.
  *
  * Determinism: among simultaneously-ready nodes, lexicographic name
  * order (Kahn's algorithm with a sorted frontier), so a project runs
  * the same way every time — no hash-map iteration order leaking into
  * side-effect ordering.
  *
  * Scale note: the DAG is driver-side metadata (names and closures);
  * each node's work is whatever Spark plan it launches. Sequential
  * execution matches dbt's default single-thread-per-DAG-path behavior;
  * independent subtrees could run on parallel schedulers without
  * changing this contract.
  */
object DagRunner {

  /** Deterministic topological order. Throws IllegalArgumentException on
    * duplicate names, unknown dependencies, or cycles (naming the nodes
    * involved).
    */
  def order(nodes: Seq[DagNode]): Seq[DagNode] = {
    val byName = nodes.map(n => n.name -> n).toMap
    require(byName.size == nodes.size, {
      val dups = nodes.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
      s"duplicate model names: ${dups.toSeq.sorted.mkString(", ")}"
    })
    nodes.foreach { n =>
      val unknown = n.deps.diff(byName.keySet)
      require(unknown.isEmpty,
        s"model '${n.name}' depends on unknown model(s): ${unknown.toSeq.sorted.mkString(", ")}")
    }
    val indegree = scala.collection.mutable.Map(nodes.map(n => n.name -> n.deps.size): _*)
    val dependents = nodes.flatMap(n => n.deps.map(_ -> n.name))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val ready = scala.collection.mutable.SortedSet(
      nodes.filter(_.deps.isEmpty).map(_.name): _*)
    val out = Seq.newBuilder[DagNode]
    var done = 0
    while (ready.nonEmpty) {
      val name = ready.head
      ready.remove(name)
      out += byName(name)
      done += 1
      dependents.getOrElse(name, Nil).foreach { d =>
        indegree(d) -= 1
        if (indegree(d) == 0) ready.add(d)
      }
    }
    if (done != nodes.size) {
      val stuck = indegree.collect { case (n, d) if d > 0 => n }.toSeq.sorted
      throw new IllegalArgumentException(
        s"dependency cycle among model(s): ${stuck.mkString(", ")}")
    }
    out.result()
  }

  /** Run every node in dependency order; returns the executed order. */
  def run(spark: SparkSession, nodes: Seq[DagNode]): Seq[String] = {
    val ordered = order(nodes)
    ordered.foreach(_.run(spark))
    ordered.map(_.name)
  }

  /** dbt's `--threads`: run independent subtrees concurrently, bounded
    * by `threads` workers. Spark's driver accepts concurrent job
    * submissions (each worker's actions schedule independently), which
    * is exactly how dbt overlaps model builds on a warehouse.
    *
    * Guarantees: a node starts only after ALL its dependencies finished;
    * the first failure stops new launches and rethrows after in-flight
    * nodes drain. The completion order is timing-dependent (as with
    * dbt), so this returns the set-equal executed names in completion
    * order; use `run` when side-effect ordering must be canonical.
    *
    * Concurrent nodes may write the same tracking table: every write to
    * one takes the table's lease, so the writes of sibling models (such
    * as accounts_load and churned_accounts, which share the sfdc tables
    * without an edge between them) serialize per write, as transactions
    * on the reference's warehouse tables do. The lease orders single
    * writes, not whole runs: two models' log rows and task rows
    * interleave in the tables. A push's connector calls run inside its
    * log append, so sibling pushes into one log table take turns there.
    */
  def runParallel(spark: SparkSession, nodes: Seq[DagNode], threads: Int = 4): Seq[String] = {
    order(nodes) // validate names/cycles up front with the same errors
    val byName = nodes.map(n => n.name -> n).toMap
    val pending = scala.collection.mutable.Map(nodes.map(n => n.name -> n.deps.size): _*)
    val dependents = nodes.flatMap(n => n.deps.map(_ -> n.name))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val lock = new Object
    val completed = scala.collection.mutable.ArrayBuffer.empty[String]
    var failure: Option[Throwable] = None
    var inFlight = 0
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, threads))

    def launchReady(): Unit = lock.synchronized {
      if (failure.isEmpty) {
        val ready = pending.collect { case (n, 0) => n }.toSeq.sorted
        ready.foreach { name =>
          pending.remove(name)
          inFlight += 1
          pool.execute { () =>
            val res = scala.util.Try(byName(name).run(spark))
            lock.synchronized {
              inFlight -= 1
              res match {
                case scala.util.Success(_) =>
                  completed += name
                  dependents.getOrElse(name, Nil).foreach { d =>
                    if (pending.contains(d)) pending(d) -= 1
                  }
                case scala.util.Failure(e) =>
                  if (failure.isEmpty) failure = Some(e)
              }
              lock.notifyAll()
            }
            launchReady()
          }
        }
      }
    }

    launchReady()
    lock.synchronized {
      while (inFlight > 0 || (failure.isEmpty && pending.nonEmpty)) lock.wait()
    }
    pool.shutdown()
    failure.foreach(throw _)
    completed.toSeq
  }
}
