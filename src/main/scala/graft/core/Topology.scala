package graft.core

import org.apache.spark.sql.DataFrame

/** A node in the processing DAG.
  *
  * Mirrors willa's topology-as-data model (reference:
  * `src/kafka_streams_the_clojure_way/core.clj:139-147` — entities are either
  * `::w/entity-type :topic` or `:kstream` nodes carrying an `::w/xform`).
  * Spark-first re-expression: a `Stream`'s transform is a plain
  * `DataFrame => DataFrame` (function composition replaces transducer `comp`,
  * `core.clj:100-105`); Catalyst fuses adjacent filters/projects, so composed
  * transforms cost nothing extra at runtime.
  */
sealed trait Entity { def name: String }

/** A named stream endpoint (Kafka topic / Parquet table). Source vs sink is
  * decided by DAG edge direction, exactly like willa topic entities
  * (`core.clj:140-142`).
  */
final case class Topic(name: String) extends Entity

/** A derived stream: its output is `xform` applied to the union of its
  * upstream entities' outputs (`core.clj:144-147`).
  */
final case class Stream(name: String, xform: DataFrame => DataFrame) extends Entity

/** Topology-as-data: `entities` + `workflow` edge list, compiled to a
  * DataFrame program (reference `core.clj:155-157`). One compiler serves both
  * execution contexts — live Structured Streaming and pure batch simulation
  * (`we/run-experiment`, `core.clj:224-234`) — because batch and streaming
  * DataFrames share the same transformation API.
  *
  * Construction validates the DAG shape (the `s/explain ::ws/topology` role,
  * `core.clj:247-252`): edges must reference declared entities, the graph must
  * be acyclic, and every `Stream` must be reachable (have at least one
  * in-edge) so its transform has an input.
  */
final case class Topology(entities: Map[String, Entity], workflow: Seq[(String, String)]) {

  // --- validation (T3) ---------------------------------------------------
  {
    val undeclared = workflow.flatMap { case (a, b) => Seq(a, b) }.distinct.filterNot(entities.contains)
    require(undeclared.isEmpty, s"workflow references undeclared entities: ${undeclared.mkString(", ")}")
    val selfEdges = workflow.filter { case (a, b) => a == b }
    require(selfEdges.isEmpty, s"self-edges not allowed: ${selfEdges.mkString(", ")}")
    require(topoOrder.size == entities.size, {
      val inCycle = entities.keySet -- topoOrder.toSet
      s"topology must be acyclic; entities in a cycle: ${inCycle.toSeq.sorted.mkString(", ")}"
    })
    val orphanStreams = entities.collect { case (n, _: Stream) if inEdges(n).isEmpty => n }
    require(orphanStreams.isEmpty, s"stream entities with no input edge: ${orphanStreams.mkString(", ")}")
  }

  /** upstream entity names per entity (DAG fan-in, `core.clj:152-153`). */
  lazy val inEdges: Map[String, Seq[String]] = {
    val m = workflow.groupBy(_._2).map { case (k, v) => k -> v.map(_._1) }
    entities.keys.map(k => k -> m.getOrElse(k, Nil)).toMap
  }

  lazy val outEdges: Map[String, Seq[String]] = {
    val m = workflow.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    entities.keys.map(k => k -> m.getOrElse(k, Nil)).toMap
  }

  /** Topics with no in-edges: the DAG's inputs — must be bound at compile. */
  def sources: Seq[String] =
    entities.collect { case (n, _: Topic) if inEdges(n).isEmpty && outEdges(n).nonEmpty => n }.toSeq.sorted

  /** Topics with at least one in-edge: the DAG's outputs. */
  def sinks: Seq[String] =
    entities.collect { case (n, _: Topic) if inEdges(n).nonEmpty => n }.toSeq.sorted

  /** Kahn topological order; stable (sorted) among ready nodes so compilation
    * is deterministic. Shorter than `entities` iff the graph has a cycle.
    */
  lazy val topoOrder: Seq[String] = {
    val inDeg = scala.collection.mutable.Map.empty[String, Int]
    entities.keys.foreach(k => inDeg(k) = 0)
    workflow.foreach { case (_, b) => inDeg(b) += 1 }
    val ready = scala.collection.mutable.SortedSet.empty[String]
    inDeg.foreach { case (k, d) => if (d == 0) ready += k }
    val order = scala.collection.mutable.ArrayBuffer.empty[String]
    val succ = workflow.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    while (ready.nonEmpty) {
      val n = ready.head; ready -= n; order += n
      succ.getOrElse(n, Nil).foreach { m =>
        inDeg(m) -= 1
        if (inDeg(m) == 0) ready += m
      }
    }
    order.toSeq
  }

  /** Compile the DAG to a DataFrame per entity (T1, `core.clj:207-209`).
    *
    * `bindings` provides a DataFrame for every source topic — batch
    * (`spark.read.parquet`) or streaming (`readStream`): the compiler is
    * agnostic, which is what makes `experiment` (batch simulation) run the
    * *identical* program as the live stream. Fold in topological order:
    * stream node ⇒ apply its xform to the union of upstream outputs; ≥2
    * in-edges ⇒ `unionByName` (merge, `core.clj:130-134` / fan-in
    * `core.clj:152-153`); sink topic ⇒ the unioned upstream output.
    */
  def compile(bindings: Map[String, DataFrame]): Map[String, DataFrame] = {
    val missing = sources.filterNot(bindings.contains)
    require(missing.isEmpty, s"no binding for source topics: ${missing.mkString(", ")}")
    topoOrder.foldLeft(Map.empty[String, DataFrame]) { (acc, name) =>
      val upstream = inEdges(name).map(acc)
      val df = entities(name) match {
        case _: Topic if upstream.isEmpty => bindings(name)
        case _: Topic                     => upstream.reduce(_ unionByName _)
        case Stream(_, xform)             => xform(upstream.reduce(_ unionByName _))
      }
      acc + (name -> df)
    }
  }

  /** Pure batch simulation of the stream DAG (T2, `we/run-experiment`,
    * `core.clj:224-234`): bind literal inputs, collect every entity's output.
    * No Kafka, no streaming runtime — the testing story.
    */
  def experiment(inputs: Map[String, DataFrame]): Map[String, Array[org.apache.spark.sql.Row]] =
    compile(inputs).map { case (name, df) => name -> df.collect() }

  /** DOT rendering of the DAG (T4, `wv/view-topology`, `core.clj:204`). */
  def toDot: String = toDot(Map.empty)

  /** DOT rendering with per-entity experiment results overlaid — the
    * reference's post-experiment visualization (`wv/view-topology` after
    * `we/run-experiment`, `core.clj:237`): each node label shows up to
    * `maxRows` of that entity's output plus a row count.
    */
  def toDot(results: Map[String, Array[org.apache.spark.sql.Row]], maxRows: Int = 3): String = {
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", "\\n").replace("\r", "\\r") // raw newlines break DOT labels
    val nodes = entities.toSeq.sortBy(_._1).map { case (n, e) =>
      val shape = e match { case _: Topic => "cylinder"; case _: Stream => "box" }
      results.get(n) match {
        case Some(rows) =>
          val shown = rows.take(maxRows)
            .map(r => esc(r.mkString("(", ", ", ")"))).mkString("\\n")
          val suffix = s"\\n[${rows.length} rows]"
          s"""  "$n" [shape=$shape, label="${esc(n)}\\n$shown$suffix"];"""
        case None => s"""  "$n" [shape=$shape];"""
      }
    }
    val edges = workflow.map { case (a, b) => s"""  "$a" -> "$b";""" }
    (Seq("digraph topology {") ++ nodes ++ edges ++ Seq("}")).mkString("\n")
  }
}
