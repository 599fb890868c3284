package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** HITS hubs-and-authorities over a directed bipartite graph
  * (Kleinberg 1999), fixed-point and engine-exact.
  *
  * The warehouse reading: customers → suppliers via order lines. An
  * AUTHORITY is a supplier bought from by many well-connected
  * customers; a HUB is a customer buying from many authoritative
  * suppliers — the mutually-recursive centrality [[Dedup.pairPageRank]]
  * cannot express (PageRank collapses both roles into one score).
  * A pipeline uses the authority table for supplier-risk weighting
  * and the hub table for customer-importance weighting.
  *
  * Arithmetic: the [[Dedup.pairPageRank]] discipline — scores are
  * BIGINT at 1e6 fixed point, each half-round is one equi join on the
  * edge relation + one hash agg + a max-renormalize by truncating DIV
  * (all values non-negative, so truncation direction cannot differ
  * between engines). Accumulators are decimal(38,0): Σ over in-edges
  * is ≤ |nodes|·1e6, past int64 only at absurd cardinalities but the
  * cast costs nothing and removes the question. A FIXED iteration
  * count replaces any convergence epsilon.
  *
  * Scale shape: edges localCheckpoint'd ONCE, then per half-round one
  * shuffle keyed on the edge's destination + one keyed agg — the
  * textbook distributed-HITS layout. Score relations are |C| and |S|
  * rows; both renormalize via a 1-row broadcast crossJoin (the C8
  * scalar-injection pattern), never a driver hop. Every customer and
  * supplier has degree ≥ 1 by construction (they enter via an edge),
  * so the node sets are stable across rounds and the max is always
  * positive — no zero-division branch exists to diverge on. */
object Hits {

  val Scale = 1000000L

  /** Distinct customer→supplier edges from the order-line star. */
  def edges(orders: DataFrame, lineitem: DataFrame): DataFrame =
    orders.select(col("o_orderkey").as("ok"), col("o_custkey").as("c"))
      .join(lineitem.select(col("l_orderkey").as("ok"),
        col("l_suppkey").as("s")), Seq("ok"))
      .select(col("c"), col("s")).distinct()

  /** `iters` full HITS rounds (authority update then hub update),
    * hubs seeded uniform at 1e6. Output: one row per node,
    * `(kind ∈ {customer, supplier}, node_id, score_fp)` with
    * max-score = 1e6 within each kind. */
  def hits(edges: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    // ONE evaluation of the upstream edge build, then TWO cached
    // orientations — each half-round joins the full edge relation on
    // its own key (c for the authority update, s for the hub update),
    // so a single pinned copy re-exchanged the edges every half-round;
    // two partitioning-visible pins make both edge sides exchange-free
    // for every iteration (the per-round shuffles that remain are the
    // keyed aggregations, i.e. the transposes themselves)
    val e0 = edges.select(col("c").cast("long").as("c"),
      col("s").cast("long").as("s")).localCheckpoint()
    val eC = Pin.keyed(e0, "hits.edges.c", Seq(col("c")))
    val eS = Pin.keyed(e0, "hits.edges.s", Seq(col("s")))
    var h = eC.select(col("c")).distinct()
      .withColumn("h", lit(Scale)).localCheckpoint()
    var a: DataFrame = null
    for (_ <- 1 to iters) {
      val ar = eC.join(h, Seq("c")).groupBy("s")
        .agg(sum(col("h").cast(DecimalType(38, 0))).as("ar"))
      val am = ar.agg(max(col("ar")).as("mx"))
      a = ar.crossJoin(broadcast(am))
        .select(col("s"),
          expr(s"CAST((ar * $Scale) DIV mx AS BIGINT)").as("a"))
        .localCheckpoint()
      val hr = eS.join(a, Seq("s")).groupBy("c")
        .agg(sum(col("a").cast(DecimalType(38, 0))).as("hr"))
      val hm = hr.agg(max(col("hr")).as("mx"))
      h = hr.crossJoin(broadcast(hm))
        .select(col("c"),
          expr(s"CAST((hr * $Scale) DIV mx AS BIGINT)").as("h"))
        .localCheckpoint()
    }
    a.select(lit("supplier").as("kind"), col("s").as("node_id"),
        col("a").as("score_fp"))
      .unionByName(h.select(lit("customer").as("kind"),
        col("c").as("node_id"), col("h").as("score_fp")))
  }

  /** Full DuckDB twin: unrolled MATERIALIZED round CTEs (each round
    * feeds the next — inlining would re-derive the whole chain per
    * reference, the [[Community]] lesson). */
  def hitsOracleSql(iters: Int = 3): String = {
    val rounds = (1 to iters).map { k =>
      val prevH = if (k == 1) "h0" else s"h${k - 1}"
      s"""a${k}r AS MATERIALIZED (
         |  SELECT e.s, sum(p.h) AS ar FROM edges e
         |  JOIN $prevH p ON p.c = e.c GROUP BY e.s),
         |a${k}m AS MATERIALIZED (SELECT max(ar) AS mx FROM a${k}r),
         |a$k AS MATERIALIZED (
         |  SELECT s, (ar * $Scale) // (SELECT mx FROM a${k}m) AS a
         |  FROM a${k}r),
         |h${k}r AS MATERIALIZED (
         |  SELECT e.c, sum(p.a) AS hr FROM edges e
         |  JOIN a$k p ON p.s = e.s GROUP BY e.c),
         |h${k}m AS MATERIALIZED (SELECT max(hr) AS mx FROM h${k}r),
         |h$k AS MATERIALIZED (
         |  SELECT c, (hr * $Scale) // (SELECT mx FROM h${k}m) AS h
         |  FROM h${k}r)""".stripMargin
    }.mkString(",\n")
    s"""
    |WITH edges AS MATERIALIZED (
    |  SELECT DISTINCT CAST(o.o_custkey AS BIGINT) AS c,
    |    CAST(l.l_suppkey AS BIGINT) AS s
    |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
    |h0 AS MATERIALIZED (
    |  SELECT DISTINCT c, CAST($Scale AS HUGEINT) AS h FROM edges),
    |$rounds
    |SELECT 'supplier' AS kind, s AS node_id, CAST(a AS BIGINT) AS score_fp
    |FROM a$iters
    |UNION ALL
    |SELECT 'customer', c, CAST(h AS BIGINT) FROM h$iters
    |ORDER BY kind, node_id
    |""".stripMargin.trim
  }
}
