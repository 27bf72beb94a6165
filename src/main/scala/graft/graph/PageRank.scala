package graft.graph

import graft.Persisted
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Iterative link-graph centrality — the quality-weighting signal web-scale
  * corpus curation derives from a hyperlink/citation graph (Common Crawl
  * practice: rank domains/pages, weight or gate documents by centrality).
  *
  * PageRank as fixed-point INTEGER power iteration so every round replays
  * bit-for-bit in the DuckDB oracle: ranks are BIGINT fixed-point at
  * `scale` (default 2^32); one iteration is
  *
  *   rank'(v) = floor(3*scale/20) + floor(17 * sum_{u->v} floor(rank(u) / outdeg(u)) / 20)
  *
  * i.e. damping d = 17/20 = 0.85 as an exact rational, divisions as
  * integer floor (all quantities non-negative). Nodes without out-edges
  * leak their mass (the common "dangling mass dropped" variant —
  * deterministic, and exact for graphs where every node has out-degree
  * >= 1, like the planted gate graph).
  *
  * Scale design: the per-iteration plan is the canonical distributed
  * PageRank shape — join(edges, ranks on src) + groupBy(dst) — two key
  * shuffles per round over the edge list, nothing else. The edge relation
  * (with out-degrees folded in, so the degree join happens ONCE, not per
  * round) is repartitioned by src and persisted up front: the cached
  * partitioning is recognized by every subsequent iteration's join, so
  * only the (much smaller) rank relation shuffles per round. Rank lineage
  * is cut with `localCheckpoint` each round — plan growth, not data, is
  * the driver-side failure mode for iteration (the label-propagation
  * lesson, NOTES.md r3).
  *
  * Overflow headroom: sum of all rank mass is <= n*scale (conserved up
  * to floor loss), so every intermediate is < n*scale and the *17 stays
  * in int64 iff 17*n*scale < 2^63 — checked with a real node count at
  * call time (Spark would wrap silently where DuckDB errors). At
  * scale=2^32 that admits n up to ~2^26 (64M nodes); larger graphs lower
  * `scale`.
  */
object PageRank {

  val DefaultScale: Long = 1L << 32

  /** Power-iterate `iters` rounds over `edges` (src, dst) for the node set
    * `nodes` (one column `node`, ids UNIQUE — `nodes` is the authority:
    * contributions to ids outside it are dropped by the per-round left
    * join). Returns (node, rank) with rank in fixed-point `scale` units.
    * Multi-edges contribute multiply; nodes absent from `edges.src`
    * contribute nothing (dangling).
    *
    * `seeds` (one column `node`, a subset of `nodes`) switches the
    * teleport term to PERSONALIZED PageRank — TrustRank (Gyongyi et al.
    * 2004): the (1−d) restart mass lands only on the seed set, scaled by
    * n/|seeds| so total mass is conserved — rank becomes proximity to
    * the trusted seeds, the web-spam / corpus-quality weighting signal.
    * Costs two driver-side counts (n, |seeds|) to fix the integer base
    * literal; the per-round base attach is a broadcast left join (the
    * seed set must be broadcastable — pre-join a flag column upstream if
    * it is not).
    */
  def pageRank(nodes: DataFrame, edges: DataFrame, iters: Int,
      scale: Long = DefaultScale, seeds: Option[DataFrame] = None): DataFrame = {
    require(iters >= 1 && iters <= 64, "iters in [1, 64]")
    require(scale >= 1L && scale <= (1L << 40), "scale <= 2^40 for overflow headroom")
    // total mass stays <= n*scale (conserved up to floor loss), so every
    // intermediate — including a worst-case star hub's contribution sum —
    // is < n*scale and the *17 stays in int64 iff 17*n*scale < 2^63.
    // Check it for real (one count job): Spark would WRAP silently on
    // overflow (non-ANSI) while the DuckDB twin errors — fail fast instead
    val n = nodes.count()
    require(BigInt(17) * n * scale < (BigInt(1) << 63),
      s"17 * n * scale overflows int64 (n=$n, scale=$scale) — lower scale")
    val nodesBase = seeds match {
      case None =>
        nodes.select(col("node"), lit(3L * scale / 20L).as("_graft_base"))
      case Some(sd) =>
        val sCount = sd.count()
        require(sCount > 0, "seed set is empty")
        // one floor of the exact rational 3*n*scale / (20*|S|), matching
        // the oracle's single HUGEINT `//`
        val seedBase = BigInt(3) * n * scale / (BigInt(20) * sCount)
        require(seedBase < (BigInt(1) << 57),
          s"seed base $seedBase too large: 17x headroom needed in int64")
        nodes.join(
            broadcast(sd.select(col("node"), lit(1L).as("_graft_isseed"))),
            Seq("node"), "left")
          .select(col("node"),
            when(col("_graft_isseed").isNotNull, lit(seedBase.toLong))
              .otherwise(lit(0L)).as("_graft_base"))
    }
    // Fold out-degrees into the edge list once; repartition by the join
    // key and persist so every iteration's join reuses the partitioning.
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("_graft_outdeg"))
    val edgesDeg = Persisted.track(
      edges.join(deg, "src")
        .select(col("src"), col("dst"), col("_graft_outdeg"))
        .repartition(col("src"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    var ranks = nodes.select(col("node"), lit(scale).as("rank"))
    for (it <- 1 to iters) {
      val contribs = edgesDeg
        .join(ranks, edgesDeg("src") === ranks("node"))
        .select(col("dst").as("node"),
          // integer division: `/` on longs is double division, which
          // silently loses precision past 2^53 — use DIV
          expr("rank DIV _graft_outdeg").as("_graft_c"))
      ranks = nodesBase
        .join(contribs.groupBy(col("node")).agg(sum(col("_graft_c")).as("_graft_cs")),
          Seq("node"), "left")
        .select(col("node"), col("_graft_base"),
          coalesce(col("_graft_cs"), lit(0L)).as("_graft_cs0"))
        .select(col("node"),
          expr("CAST(_graft_base + (17 * _graft_cs0) DIV 20 AS BIGINT)").as("rank"))
      // cut lineage between rounds, but leave the LAST round lazy — the
      // caller materializes it, and an eager checkpoint there would just
      // compute the result twice. LAZY checkpoints (r17): the Dataset's
      // logical plan is truncated to a LogicalRDD either way (plan
      // growth stays bounded — the original failure mode), but eager=true
      // ran one blocking driver job PER ROUND at build time; lazy defers
      // materialization into the caller's single action: iters-1 fewer
      // job submissions, wall-clock neutral at sf0.1 (OPTIMIZATION_r17
      // s2-3), results bit-identical
      if (it < iters) ranks = ranks.localCheckpoint(false)
    }
    ranks
  }

  /** DuckDB twin of [[pageRank]]: `iters` unrolled `AS MATERIALIZED` CTEs
    * (DuckDB inlines plain CTEs — an iteration chain explodes
    * exponentially without MATERIALIZED, the BPE-oracle lesson). Callers
    * supply the `nodes(node)` / `edges(src, dst)` CTE bodies; emits CTEs
    * `deg`, `r0..r{iters}` and a final SELECT of (node, rank).
    */
  def pageRankSql(nodesCte: String, edgesCte: String, iters: Int,
      scale: Long = DefaultScale, seedsCte: Option[String] = None): String = {
    val nbCte = seedsCte match {
      case None =>
        s"nb AS MATERIALIZED (SELECT node, CAST(${3L * scale / 20L} AS BIGINT) AS base FROM nodes)"
      case Some(sc) =>
        // single HUGEINT floor of 3*n*scale / (20*|S|) — the op order the
        // Spark side's BigInt computation states
        s"""seeds AS MATERIALIZED ($sc),
           |sb AS (SELECT CAST((3 * CAST((SELECT count(*) FROM nodes) AS HUGEINT) * $scale)
           |  // (20 * (SELECT count(*) FROM seeds)) AS BIGINT) AS v),
           |nb AS MATERIALIZED (
           |  SELECT n.node,
           |    CASE WHEN s.node IS NOT NULL THEN (SELECT v FROM sb) ELSE CAST(0 AS BIGINT) END AS base
           |  FROM nodes n LEFT JOIN seeds s ON n.node = s.node)""".stripMargin
    }
    val iterCtes = (1 to iters).map { k =>
      s"""r$k AS MATERIALIZED (
         |  SELECT n.node,
         |    CAST(n.base + CAST(17 * COALESCE(c.csum, 0) AS BIGINT) // 20 AS BIGINT) AS rank
         |  FROM nb n LEFT JOIN (
         |    SELECT e.dst AS node, CAST(SUM(r.rank // g.outdeg) AS BIGINT) AS csum
         |    FROM edges e JOIN deg g ON e.src = g.src
         |      JOIN r${k - 1} r ON e.src = r.node
         |    GROUP BY e.dst) c ON n.node = c.node)""".stripMargin
    }
    s"""WITH nodes AS MATERIALIZED ($nodesCte),
       |edges AS MATERIALIZED ($edgesCte),
       |deg AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
       |$nbCte,
       |r0 AS (SELECT node, CAST($scale AS BIGINT) AS rank FROM nodes),
       |${iterCtes.mkString(",\n")}
       |SELECT node, rank FROM r$iters""".stripMargin
  }
}
