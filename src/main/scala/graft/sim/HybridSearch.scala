package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hybrid retrieval: fuse independently-produced rankings (sparse BM25,
  * dense ANN, ...) with reciprocal-rank fusion (Cormack et al., SIGIR
  * 2009) — the standard score-free combiner for heterogeneous retrieval
  * arms, and the retrieval shape RAG-style corpus queries run at scale.
  *
  * RRF(d) = Σ_arms 1 / (k0 + rank_arm(d)) with k0 = [[K0]], here as exact fixed-point
  * integers: `RrfScale DIV (k0 + rank)` (both operands positive, DIV =
  * floor in Spark and DuckDB alike), so the fused ranking replays
  * bit-for-bit in the oracle. Raw arm scores never mix — only ranks —
  * which is the point of RRF: BM25 fixed-point sums and IEEE cosines
  * need no common calibration.
  *
  * Scale shape: each arm is already a top-k relation (tens to thousands
  * of rows — the heavy lifting happened inside the arm's own
  * scale-designed plan), so the per-arm `row_number` window over the
  * bounded arm output and the final fuse agg are driver-trivial; nothing
  * here touches the corpus again.
  */
object HybridSearch {

  /** 2^20 fixed-point scale: rank contributions stay exact integers with
    * plenty of resolution between 1/(k0+1) and 1/(k0+k).
    */
  val RrfScale: Long = 1L << 20

  /** RRF's rank offset (the paper's k = 60), shared with the DuckDB twin. */
  private val K0 = 60

  /** Fuse `arms` — each a (top-k DataFrame, its deterministic total
    * ordering) pair sharing the id column `idCol` — into the RRF top-k.
    * Each arm must be a RANKING: one row per id (a duplicate id would
    * contribute once per occurrence). Output: (idCol, rrf_fp, n_arms),
    * ranked (rrf_fp desc, id).
    */
  def rrfFuse(arms: Seq[(DataFrame, Seq[Column])], idCol: String,
      k: Int): DataFrame = {
    require(arms.nonEmpty)
    val contribs = arms.map { case (df, order) =>
      df.select(col(idCol),
          row_number().over(Window.orderBy(order: _*)).cast("long").as("_rrf_rank"))
        .select(col(idCol),
          expr(s"$RrfScale DIV ($K0 + _rrf_rank)").as("_rrf_c"))
    }
    contribs.reduce(_ unionByName _)
      .groupBy(col(idCol))
      .agg(sum(col("_rrf_c")).as("rrf_fp"), count(lit(1)).as("n_arms"))
      .orderBy(col("rrf_fp").desc, col(idCol))
      .limit(k)
  }

  /** DuckDB twin of [[rrfFuse]]: each arm is a complete SQL query
    * (nested-WITH bodies compose fine in DuckDB) with `idExpr` naming its
    * id column and `orderBy` its deterministic total order — the same
    * order the Spark arm was ranked with. `outIdCol` must equal the
    * Spark side's `idCol` (the twins are column-name-identical for the
    * hash compare).
    */
  def rrfFuseSql(arms: Seq[(String, String, String)], k: Int,
      outIdCol: String = "doc_id"): String = {
    val armCtes = arms.zipWithIndex.map { case ((sql, _, _), i) =>
      s"arm$i AS MATERIALIZED (\n$sql)"
    }
    val rankCtes = arms.zipWithIndex.map { case ((_, idExpr, orderBy), i) =>
      s"r$i AS (SELECT $idExpr AS $outIdCol, " +
        s"row_number() OVER (ORDER BY $orderBy) AS rnk FROM arm$i)"
    }
    val union = arms.indices
      .map(i => s"SELECT $outIdCol, $RrfScale // ($K0 + rnk) AS c FROM r$i")
      .mkString("\nUNION ALL\n")
    s"""WITH ${(armCtes ++ rankCtes).mkString(",\n")},
       |u AS ($union)
       |SELECT $outIdCol, CAST(SUM(c) AS BIGINT) AS rrf_fp,
       |  CAST(count(*) AS BIGINT) AS n_arms
       |FROM u GROUP BY $outIdCol
       |ORDER BY rrf_fp DESC, $outIdCol LIMIT $k""".stripMargin
  }
}
