package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.ReferenceOps
import graft.SparkEntry.t

/** Registry queries of the reference walkthrough: the Part-3 topology run in
  * batch, its DOT drawing, its validation and the REPL session. Each query
  * registers with its oracle right after its body.
  */
private[graft] object ReferenceQueries extends QueryFamily {

  /** P1+P2+P3 — filter on amount, key-preserving projection (core.clj:77-83). */
  private def filterProject(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .filter(col("o_totalprice") >= 250000)
      .select(col("o_orderkey").as("key"), col("o_custkey").as("user_id"),
        col("o_totalprice").as("amount"))
  query("q_filter_project", filterProject,
    """SELECT o_orderkey AS key, o_custkey AS user_id, o_totalprice AS amount
      |FROM orders WHERE o_totalprice >= 250000""".stripMargin)

  /** P4+P5 — cents→units rescale with truncation + value reshape (core.clj:112-118). */
  private def donationRescale(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .filter(col("value") * 100 >= 10000)
      .select(col("event_id").as("key"), col("user_id"),
        ReferenceOps.centsToUnits(col("value") * 100).as("amount"))
  query("q_donation_rescale", donationRescale,
    """SELECT event_id AS key, user_id, CAST(TRUNC((value*100)/100) AS INT) AS amount
      |FROM events WHERE value*100 >= 10000""".stripMargin)

  /** M1/M2 — schema-normalized bag-union of two branches (core.clj:130-134). */
  private def mergeUnion(s: SparkSession, dir: String): DataFrame = {
    val purchases = t(s, dir, "orders")
      .filter(col("o_totalprice") >= 250000)
      .select(col("o_custkey").as("user_id"), col("o_totalprice").cast("int").as("amount"))
    val donations = t(s, dir, "events")
      .filter(col("value") * 100 >= 10000)
      .select(col("user_id"), ReferenceOps.centsToUnits(col("value") * 100).as("amount"))
    ReferenceOps.merge(Seq(purchases, donations))
  }
  query("q_merge_union", mergeUnion,
    """SELECT o_custkey AS user_id, CAST(TRUNC(o_totalprice) AS INT) AS amount
      |FROM orders WHERE o_totalprice >= 250000
      |UNION ALL
      |SELECT user_id, CAST(TRUNC((value*100)/100) AS INT) AS amount
      |FROM events WHERE value*100 >= 10000""".stripMargin)

  /** T1+T2 — the full Part-3 topology (core.clj:139-157) compiled and run in
    * batch (experiment) mode: orders play `purchase-made`, events play
    * `humble-donation-made` (FIXTURES.md §B mapping).
    */
  private[graft] def topologyTransactions(s: SparkSession, dir: String): DataFrame = {
    val purchases = t(s, dir, "orders").select(
      col("o_orderkey").as("key"), col("o_custkey").as("user_id"),
      col("o_totalprice").as("amount"))
    val donations = t(s, dir, "events").select(
      col("event_id").as("key"), col("user_id"),
      (col("value") * 100).as("donation_amount_cents"))
    ReferenceOps.transactionTopology
      .compile(Map("purchase-made" -> purchases, "humble-donation-made" -> donations))
      .apply("large-transaction-made")
  }
  private[queries] val topologyExperimentDef = query("q_topology_experiment", topologyTransactions,
    """SELECT o_orderkey AS key, o_custkey AS user_id, CAST(TRUNC(o_totalprice) AS INT) AS amount
      |FROM orders WHERE o_totalprice >= 100
      |UNION ALL
      |SELECT event_id AS key, user_id, CAST(TRUNC((value*100)/100) AS INT) AS amount
      |FROM events WHERE value*100 >= 10000""".stripMargin)

  /** T4 under the driver gate: the DOT rendering of the Part-3 topology
    * (`wv/view-topology`, reference core.clj:204) in BOTH faces — bare, and
    * with experiment results overlaid on the node labels (the reference's
    * post-experiment visualization, `wv/view-topology` after
    * `we/run-experiment`, core.clj:237). The overlay runs a deterministic
    * literal experiment (the Part-1 purchases plus one humble/one large
    * donation) through [[graft.core.Topology.experiment]], so every node
    * label's sample rows and row count — truncation at maxRows included —
    * are part of the pinned text. The oracle pins both literals exactly:
    * node sort order, shapes, edge order, label escaping, and the
    * per-entity fold results are hash-checked every round, not just
    * spec-checked.
    */
  private def topologyDotQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val topo = ReferenceOps.transactionTopology
    val purchases = Seq(
      (1, 10.0, 101, 1), (2, 500.0, 102, 3), (3, 50.0, 103, 2),
      (4, 1000.0, 104, 5)).toDF("key", "amount", "user_id", "quantity")
    val donations = Seq((10, 5000, 201), (11, 20000, 202))
      .toDF("key", "donation_amount_cents", "user_id")
    val results = topo.experiment(Map(
      "purchase-made" -> purchases, "humble-donation-made" -> donations))
    Seq("bare" -> topo.toDot, "overlay" -> topo.toDot(results))
      .toDF("variant", "dot")
  }
  // T4: the DOT literals ARE the oracle — any drift in node sorting,
  // shapes, edge order, or the overlay's per-entity experiment rows
  // (sample rows, truncation, row counts) hash-mismatches at the driver
  // gate. '\n' inside the single-quoted SQL string is the literal
  // backslash-n DOT label escape, exactly as toDot emits it.
  query("q_topology_dot", topologyDotQ,
    """SELECT * FROM (VALUES
      |('bare', 'digraph topology {
      |  "humble-donation-made" [shape=cylinder];
      |  "large-donation-stream" [shape=box];
      |  "large-purchase-stream" [shape=box];
      |  "large-transaction-made" [shape=cylinder];
      |  "purchase-made" [shape=cylinder];
      |  "purchase-made" -> "large-purchase-stream";
      |  "humble-donation-made" -> "large-donation-stream";
      |  "large-purchase-stream" -> "large-transaction-made";
      |  "large-donation-stream" -> "large-transaction-made";
      |}'),
      |('overlay', 'digraph topology {
      |  "humble-donation-made" [shape=cylinder, label="humble-donation-made\n(10, 5000, 201)\n(11, 20000, 202)\n[2 rows]"];
      |  "large-donation-stream" [shape=box, label="large-donation-stream\n(11, 202, 200)\n[1 rows]"];
      |  "large-purchase-stream" [shape=box, label="large-purchase-stream\n(2, 102, 500)\n(4, 104, 1000)\n[2 rows]"];
      |  "large-transaction-made" [shape=cylinder, label="large-transaction-made\n(2, 102, 500)\n(4, 104, 1000)\n(11, 202, 200)\n[3 rows]"];
      |  "purchase-made" [shape=cylinder, label="purchase-made\n(1, 10.0, 101, 1)\n(2, 500.0, 102, 3)\n(3, 50.0, 103, 2)\n[4 rows]"];
      |  "purchase-made" -> "large-purchase-stream";
      |  "humble-donation-made" -> "large-donation-stream";
      |  "large-purchase-stream" -> "large-transaction-made";
      |  "large-donation-stream" -> "large-transaction-made";
      |}')) AS t(variant, dot)""".stripMargin)

  /** T3 under the driver gate: the validation walkthrough
    * (`s/explain ::ws/topology`, reference core.clj:247-252) as data. Runs
    * the valid topology plus four malformed shapes — including the
    * reference's own injected-cycle probe (core.clj:249-252) — through
    * construction-time validation and reduces each outcome to
    * (probe, ok, err), err being the stable phrase from the validator.
    */
  private def topologyValidateQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.core.{Stream => TStream, Topology => TTopo}
    val base = ReferenceOps.transactionTopology
    def probe(name: String)(build: => TTopo): (String, Boolean, String) =
      try { build; (name, true, "") }
      catch {
        case e: IllegalArgumentException =>
          val kinds = Seq("acyclic", "undeclared", "no input edge", "self-edges")
          (name, false, kinds.find(e.getMessage.contains).getOrElse("other"))
      }
    Seq(
      probe("valid")(base.copy()),
      // the reference's exact invalid example: a loop through the sink
      probe("cycle")(base.copy(workflow =
        base.workflow :+ ("large-transaction-made" -> "purchase-made"))),
      probe("undeclared")(base.copy(workflow =
        base.workflow :+ ("purchase-made" -> "no-such-entity"))),
      probe("self-edge")(base.copy(workflow =
        base.workflow :+ ("purchase-made" -> "purchase-made"))),
      probe("orphan-stream")(base.copy(entities =
        base.entities + ("dangling-stream" -> TStream("dangling-stream", identity))))
    ).toDF("probe", "ok", "err")
  }
  query("q_topology_validate", topologyValidateQ,
    """SELECT * FROM (VALUES
      |  ('valid', true, ''),
      |  ('cycle', false, 'acyclic'),
      |  ('undeclared', false, 'undeclared'),
      |  ('self-edge', false, 'self-edges'),
      |  ('orphan-stream', false, 'no input edge')) AS t(probe, ok, err)""".stripMargin)

  /** The Part-1 REPL walkthrough as an oracle-checked query (reference
    * core.clj:165-184): four literal purchases of 10/500/50/1000 through
    * the simple source → filter(≥100) → select-keys → sink topology
    * (core.clj:77-83); the output topic must hold exactly the 500 and
    * 1000 transactions.
    */
  private def replWalkthroughQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.core.{Stream => TStream, Topic => TTopic, Topology => TTopo}
    val purchases = Seq(
      (1L, 10.0, 101L, 1), (2L, 500.0, 102L, 3),
      (3L, 50.0, 103L, 2), (4L, 1000.0, 104L, 5))
      .toDF("key", "amount", "user_id", "quantity")
    val topo = TTopo(
      entities = Map(
        "purchase-made" -> TTopic("purchase-made"),
        "large-purchase-stream" -> TStream("large-purchase-stream", ReferenceOps.largePurchases),
        "large-transaction-made" -> TTopic("large-transaction-made")),
      workflow = Seq(
        "purchase-made" -> "large-purchase-stream",
        "large-purchase-stream" -> "large-transaction-made"))
    topo.compile(Map("purchase-made" -> purchases))("large-transaction-made")
  }
  query("q_repl_walkthrough", replWalkthroughQ,
    """SELECT * FROM (VALUES
      |  (2, 102, 500), (4, 104, 1000)) AS t("key", user_id, amount)""".stripMargin)
}
