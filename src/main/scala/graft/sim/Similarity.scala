package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding similarity search (north-star extensions): brute-force cosine
  * top-k and all-pairs kNN as the exact baselines, random-hyperplane LSH
  * and IVF bucketing as the scale paths (single-query and all-pairs), and
  * cosine near-duplicate pairs (exact + bucketed-LSH).
  *
  * All math is double-precision with a fixed index-ascending accumulation
  * order (the codegen'd [[DotProductExpr]]; Spark's own higher-order
  * functions are CodegenFallback and ~19x slower on pair joins), so
  * results are bit-deterministic and reproducible in the DuckDB oracle —
  * including every APPROXIMATE algorithm, whose seeds, tie-breaks and
  * fold orders are all pinned.
  */
object Similarity {

  /** Cosine similarity of two `array<float|double>` columns, built on the
    * native codegen'd [[DotProductExpr]] (index-ascending accumulation —
    * bit-identical to the oracle's explicit left-associated sum).
    */
  def cosine(a: Column, b: Column): Column =
    SimExpressions.dot(a, b) /
      (sqrt(SimExpressions.dot(a, a)) * sqrt(SimExpressions.dot(b, b)))

  /** Chunk→document embedding pooling: the element-wise MEAN of each
    * group's vectors, folded in ascending `orderCol` order so the float
    * sum sequence is deterministic (a plain per-dim groupBy-sum would add
    * in partition-arrival order — different every run). This is the
    * standard doc-vector construction from chunk/passage embeddings
    * (retrieval corpora, SemDeDup-style doc-level dedup over chunked
    * encoders).
    *
    * Output: (groupCol, n_chunks, mean_vec array<double>).
    *
    * Scale shape: ONE key shuffle of the vector payload (unavoidable —
    * pooling is an aggregation OF the vectors; collect_list partials
    * combine map-side). The per-group ordered fold runs as zip_with /
    * aggregate HOFs — CodegenFallback (the known HOF trap), but bounded
    * by a group's own chunk count, not the corpus; with ~10-100 chunks
    * per doc the fallback cost is noise next to the exchange. Groups must
    * fit in executor memory (chunks-per-doc bounded — true for any real
    * chunking config).
    */
  def meanPoolVectors(df: DataFrame, groupCol: String, orderCol: String,
      vecCol: String): DataFrame =
    df.groupBy(col(groupCol))
      .agg(
        sort_array(collect_list(struct(
          col(orderCol).as("_o"), col(vecCol).cast("array<double>").as("_v"))))
          .as("_graft_chunks"),
        count(lit(1)).as("n_chunks"))
      .select(col(groupCol), col("n_chunks"),
        expr("""transform(
                 aggregate(_graft_chunks,
                   CAST(array_repeat(0.0D, size(_graft_chunks[0]._v)) AS array<double>),
                   (acc, ch) -> zip_with(acc, ch._v, (a, b) -> a + b)),
                 x -> x / CAST(n_chunks AS DOUBLE))""").as("mean_vec"))

  /** DuckDB twin of [[meanPoolVectors]] over `embeddings`, in the gate's
    * fixed-point projection (`floor(mean * 2^20 + 0.5)` per element —
    * array-of-double replay would be repr-lossy in the checker, integers
    * are not): per (group, dim) the chunk values fold via
    * `list_reduce(list(x ORDER BY ord))` — the same left-to-right add
    * sequence as the Spark `aggregate` fold — then the identical
    * divide/scale/floor op order, elements reassembled in dim order.
    */
  def meanPoolVectorsSqlFixed(dim: Int, groupExpr: String): String =
    s"""WITH ch AS (
       |  SELECT $groupExpr AS grp, vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |cnt AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_chunks FROM ch GROUP BY grp),
       |dims AS (SELECT unnest(range(1, ${dim + 1})) AS d),
       |sums AS (
       |  SELECT grp, d,
       |    list_reduce(list(v[d] ORDER BY vec_id), (a, b) -> a + b) AS s
       |  FROM ch CROSS JOIN dims GROUP BY grp, d),
       |fp AS (
       |  SELECT s.grp, s.d,
       |    CAST(floor((s.s / CAST(c.n_chunks AS DOUBLE)) * 1048576.0 + 0.5) AS BIGINT) AS x
       |  FROM sums s JOIN cnt c ON s.grp = c.grp)
       |SELECT f.grp, c.n_chunks, list(f.x ORDER BY f.d) AS mean_vec_fp
       |FROM fp f JOIN cnt c ON f.grp = c.grp
       |GROUP BY f.grp, c.n_chunks""".stripMargin

  /** DuckDB twin of [[cosine]] for a known dimensionality: explicit
    * left-associated sum, 1-based list indexing — identical op order.
    */
  def cosineSql(a: String, b: String, dim: Int): String = {
    def dot(x: String, y: String) = (1 to dim)
      .map(i => s"CAST($x[$i] AS DOUBLE) * CAST($y[$i] AS DOUBLE)").mkString(" + ")
    s"(${dot(a, b)}) / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))"
  }

  /** Vector dimensionality for hyperplane/bucket geometry: the caller's
    * `dim` wins (zero Spark jobs at query construction — what a 100 TB
    * deployment should pass, since even a "1-row" probe touches a parquet
    * footer per file); otherwise fall back to an eager one-row probe of
    * the data, with a clear error on an empty table.
    */
  private def resolveDim(embeddings: DataFrame, vecCol: String,
      dim: Option[Int], who: String): Int = dim.getOrElse {
    embeddings.select(size(col(vecCol))).limit(1).collect()
      .headOption.map(_.getInt(0)).getOrElse(throw new IllegalArgumentException(
        s"$who: embeddings table is empty — pass dim explicitly or supply data"))
  }

  /** DuckDB replay of [[ivfTopK]] — the algorithm is deterministic end to
    * end (lowest-id centroids, argmax-cosine assignment and probe ranking
    * with id tie-breaks, (cosine desc, id) top-k), so the ORACLE can state
    * the whole approximate computation, not just "some k rows".
    */
  def ivfTopKSql(dim: Int, queryId: Long, k: Int, numClusters: Int,
      nProbe: Int): String = {
    val cosEC = cosineSql("e.embedding", "c.cvec", dim)
    val cosCQ = cosineSql("c.cvec", "q.qvec", dim)
    val cosAQ = cosineSql("a.embedding", "q.qvec", dim)
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |cent AS (SELECT vec_id AS cid, embedding AS cvec FROM e ORDER BY vec_id LIMIT $numClusters),
       |assigned AS (
       |  SELECT vec_id, embedding, cid AS cluster FROM (
       |    SELECT e.vec_id, e.embedding, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY $cosEC DESC, c.cid) AS crn
       |    FROM e CROSS JOIN cent c) WHERE crn = 1),
       |q AS (SELECT embedding AS qvec FROM e WHERE vec_id = $queryId),
       |probed AS (
       |  SELECT cid AS cluster FROM (
       |    SELECT c.cid, row_number() OVER (ORDER BY $cosCQ DESC, c.cid) AS qrn
       |    FROM cent c CROSS JOIN q) WHERE qrn <= $nProbe)
       |SELECT a.vec_id, $cosAQ AS cosine
       |FROM assigned a JOIN probed USING (cluster) CROSS JOIN q
       |WHERE a.vec_id <> $queryId
       |ORDER BY cosine DESC, a.vec_id LIMIT $k""".stripMargin
  }

  /** DuckDB replay of [[ivfTopKTrained]]: every training round (argmax
    * assignment, ordered-fold means, empty-cluster carry-over) unrolls
    * into rank/assign/mean/cent CTE stages, then the probe + top-k mirror
    * [[ivfTopKSql]]. Works because the trainer folds each mean over
    * members sorted by id — the exact op order the SQL `list(... ORDER BY vec_id)` fold states.
    */
  def ivfTopKTrainedSql(dim: Int, queryId: Long, k: Int, numClusters: Int,
      nProbe: Int, trainIterations: Int): String = {
    val T = trainIterations
    val cosCQ = cosineSql("c.cvec", "q.qvec", dim)
    val cosAQ = cosineSql("a.embedding", "q.qvec", dim)
    (trainedAssignSqlCtes(dim, numClusters, trainIterations) ++ Seq(
      s"q AS (SELECT embedding AS qvec FROM e WHERE vec_id = $queryId)",
      s"""probed AS MATERIALIZED (
         |  SELECT cid AS cluster FROM (
         |    SELECT c.cid, row_number() OVER (ORDER BY $cosCQ DESC, c.cid) AS qrn
         |    FROM cent$T c CROSS JOIN q) WHERE qrn <= $nProbe)""".stripMargin))
      .mkString(",\n") +
      s"""
         |SELECT a.vec_id, $cosAQ AS cosine
         |FROM assignF a JOIN probed USING (cluster) CROSS JOIN q
         |WHERE a.vec_id <> $queryId
         |ORDER BY cosine DESC, a.vec_id LIMIT $k""".stripMargin
  }

  /** Shared replay prefix for deterministic k-means training: CTEs `e`
    * (the embeddings), `cent0..cent{T}` (per-round centroids), and the
    * final argmax assignment `assignF (vec_id, embedding, cluster)`.
    * Every stage is MATERIALIZED: DuckDB inlines plain CTEs, so the
    * nested centroid expressions would otherwise blow up exponentially
    * across training rounds (the SQL twin of Spark's plan-lineage growth).
    */
  private def trainedAssignSqlCtes(dim: Int, numClusters: Int,
      trainIterations: Int): Seq[String] = {
    def rankCte(name: String, centName: String): String =
      s"""$name AS MATERIALIZED (
         |  SELECT e.vec_id, e.embedding, c.cid,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${cosineSql("e.embedding", "c.cvec", dim)} DESC, c.cid) AS crn
         |  FROM e CROSS JOIN $centName c)""".stripMargin
    val iterCtes = (1 to trainIterations).flatMap { i =>
      Seq(
        rankCte(s"rank$i", s"cent${i - 1}"),
        s"assign$i AS MATERIALIZED (SELECT vec_id, embedding, cid AS cluster FROM rank$i WHERE crn = 1)",
        s"""mean$i AS MATERIALIZED (
           |  SELECT cluster, list(mval::REAL ORDER BY pos) AS mvec FROM (
           |    SELECT cluster, pos,
           |      list_reduce(list_prepend(0.0::DOUBLE,
           |        list(embedding[pos+1]::DOUBLE ORDER BY vec_id)),
           |        (acc, x) -> acc + x) / count(*) AS mval
           |    FROM assign$i CROSS JOIN range($dim) t(pos)
           |    GROUP BY cluster, pos)
           |  GROUP BY cluster)""".stripMargin,
        s"""cent$i AS MATERIALIZED (
           |  SELECT p.cid, coalesce(m.mvec, p.cvec) AS cvec
           |  FROM cent${i - 1} p LEFT JOIN mean$i m ON p.cid = m.cluster)""".stripMargin)
    }
    Seq(
      "WITH e AS (SELECT vec_id, embedding FROM embeddings)",
      s"cent0 AS MATERIALIZED (SELECT vec_id AS cid, embedding AS cvec FROM e ORDER BY vec_id LIMIT $numClusters)") ++
      iterCtes ++ Seq(
      rankCte("rankF", s"cent$trainIterations"),
      "assignF AS MATERIALIZED (SELECT vec_id, embedding, cid AS cluster FROM rankF WHERE crn = 1)")
  }

  /** DuckDB replay of [[semanticDedup]]: the training + assignment prefix
    * is [[trainedAssignSqlCtes]], then a survivor is any vector with NO smaller-id same-cluster
    * neighbor at cosine >= tau — the same anti-join the Spark plan runs.
    */
  def semanticDedupSql(dim: Int, tau: Double, numClusters: Int,
      trainIterations: Int): String = {
    val cosAB = cosineSql("a.embedding", "b.embedding", dim)
    trainedAssignSqlCtes(dim, numClusters, trainIterations).mkString(",\n") +
      s"""
         |SELECT a.vec_id, a.cluster FROM assignF a
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM assignF b
         |  WHERE b.cluster = a.cluster AND b.vec_id < a.vec_id
         |    AND $cosAB >= $tau)""".stripMargin
  }

  /** DuckDB replay of [[lshTopK]]: the seeded hyperplanes are embedded as
    * exact double literals (Double.toString round-trips, DuckDB parses
    * decimal to the nearest — identical — double), the sign-bucket packing
    * and hamming-1 multi-probe as integer CASE/xor arithmetic, scoring as
    * [[cosineSql]]. The query is approximate by construction yet
    * bit-reproducible, so it hash-matches.
    */
  def lshTopKSql(dim: Int, queryId: Long, k: Int, numPlanes: Int = 12,
      seed: Long = 42L): String = {
    val planes = hyperplanes(dim, numPlanes, seed)
    def planeDot(vec: String, p: Array[Double]): String =
      p.zipWithIndex.map { case (w, j) =>
        s"CAST($vec[${j + 1}] AS DOUBLE) * ($w)" }.mkString(" + ")
    val bucketExpr = planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN (${planeDot("embedding", p)}) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
    val probeUnion = (s"SELECT qb AS pb, qvec FROM qb" +:
      (0 until numPlanes).map(i =>
        s"SELECT xor(qb, ${1L << i}) AS pb, qvec FROM qb")).mkString(" UNION ALL ")
    val cosBQ = cosineSql("b.embedding", "b.qvec", dim)
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |buck AS (SELECT vec_id, embedding, $bucketExpr AS bucket FROM e),
       |qb AS (SELECT bucket AS qb, embedding AS qvec FROM buck WHERE vec_id = $queryId),
       |probes AS ($probeUnion),
       |cand AS (
       |  SELECT DISTINCT b.vec_id, b.embedding, p.qvec
       |  FROM buck b JOIN probes p ON b.bucket = p.pb
       |  WHERE b.vec_id <> $queryId)
       |SELECT b.vec_id, $cosBQ AS cosine FROM cand b
       |ORDER BY cosine DESC, b.vec_id LIMIT $k""".stripMargin
  }

  /** Exact top-k nearest neighbors of one query row (by id) against the
    * whole collection: broadcast the single query vector, scan-and-score,
    * total-order by (cosine desc, id) for determinism. The baseline every
    * ANN variant is measured against.
    */
  def bruteForceTopK(embeddings: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int): DataFrame = {
    val query = embeddings.filter(col(idCol) === queryId)
      .select(col(vecCol).as("_qvec"))
    embeddings
      .join(broadcast(query))
      .filter(col(idCol) =!= queryId)
      .select(col(idCol), cosine(col(vecCol), col("_qvec")).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  // ---------------- int8 scalar quantization ----------------

  /** Symmetric per-vector int8 quantization: `q[i] = floor(x[i] * scale +
    * 0.5)` with `scale = 127 / max|x|` (1.0 for an all-zero vector), kept
    * as `array<tinyint>` plus the scale. Stored/shuffled quantized, an
    * embedding column shrinks 4x (1 byte vs float32) — at 100 TB that is
    * 4x fewer shuffle bytes through every ANN candidate join, with cosine
    * preserved to ~1/127 per axis (quantization is per-vector symmetric,
    * so DIRECTION — which is all cosine sees — survives).
    *
    * Every step is floor/abs/max/double-division arithmetic with a pinned
    * op order, identical in DuckDB — the oracle replays quantization and
    * the quantized scores exactly ([[quantizedTopKSql]]).
    */
  def withQuantizedVec(df: DataFrame, vecCol: String, qvecCol: String = "qvec",
      scaleCol: String = "qscale"): DataFrame = {
    // one codegen'd pass per row (the transform/array_max HOF formulation
    // is CodegenFallback — interpreted per element)
    val q = org.apache.spark.sql.GraftColumnBridge.column(QuantizeInt8Expr(
      org.apache.spark.sql.GraftColumnBridge.expression(
        col(vecCol).cast("array<double>"))))
    df.withColumn("_graft_q8", q)
      .withColumn(scaleCol, col("_graft_q8.qscale"))
      .withColumn(qvecCol, col("_graft_q8.qvec"))
      .drop("_graft_q8")
  }

  /** Exact top-k under the QUANTIZED metric: cosine over the int8 vectors
    * (upcast to double once per row — integer values <= 127 are exact in
    * double, so the scores are integers-over-sqrt and bit-deterministic).
    * The measurement query for the quantization path: compare against
    * [[bruteForceTopK]] to read the recall cost of 4x smaller vectors.
    */
  def quantizedTopK(embeddings: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int): DataFrame = {
    val q = withQuantizedVec(embeddings, vecCol)
      .select(col(idCol), col("qvec").cast("array<double>").as("_qd"))
    val probe = q.filter(col(idCol) === queryId).select(col("_qd").as("_qq"))
    q.join(broadcast(probe))
      .filter(col(idCol) =!= queryId)
      .select(col(idCol), cosine(col("_qd"), col("_qq")).as("qcosine"))
      .orderBy(col("qcosine").desc, col(idCol))
      .limit(k)
  }

  /** DuckDB replay of [[quantizedTopK]]: quantize with the same
    * floor(x*scale + 0.5) arithmetic, score with [[cosineSql]] over the
    * quantized vectors, same (qcosine desc, id) order.
    */
  def quantizedTopKSql(dim: Int, queryId: Long, k: Int): String = {
    val cos = cosineSql("e.qv", "q.qq", dim)
    s"""WITH m AS (
       |  SELECT vec_id, embedding,
       |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
       |  FROM embeddings),
       |qv AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> floor(CAST(x AS DOUBLE) *
       |      (CASE WHEN mx > 0 THEN 127.0 / mx ELSE 1.0 END) + 0.5)) AS qv
       |  FROM m),
       |q AS (SELECT qv AS qq FROM qv WHERE vec_id = $queryId)
       |SELECT e.vec_id, $cos AS qcosine
       |FROM qv e CROSS JOIN q
       |WHERE e.vec_id <> $queryId
       |ORDER BY qcosine DESC, e.vec_id LIMIT $k""".stripMargin
  }

  /** Sign bits of dimensions [from, until) packed into one long (bit
    * i−from = 1 iff v[i] > 0) — a chain of when/bitwiseOR terms, fully
    * whole-stage-codegen.
    */
  private def signBitsCol(vec: Column, from: Int, until: Int): Column =
    (from until until).map { i =>
      when(element_at(vec, i + 1).cast("double") > 0.0,
        lit(1L << (i - from))).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)

  /** BINARY (sign-bit) quantization top-k — the extreme end of the
    * quantization family: 1 bit per dimension (64x smaller than float32),
    * candidate metric = hamming distance on the sign pattern, exact
    * cosine re-rank of the `rerank` closest. For random-hyperplane
    * geometry P[sign differs] = angle/pi, so hamming tracks angular
    * distance; re-rank absorbs the coarseness.
    *
    * Scale shape: the probe's bits broadcast, so candidate scoring is a
    * SCAN (8 bytes + bit_count per row, no shuffle, no index); top-R =
    * ordered limit. At 100 TB this is the first-pass filter that avoids
    * touching float payloads for 99.99% of rows.
    *
    * Bits pack as two 32-dim halves (`bits_lo`/`bits_hi`): every value
    * stays under 2^32, so the SQL replay never left-shifts into the
    * BIGINT sign bit — portable, and the oracle replays sign extraction,
    * hamming, the (ham, id) cut, and the re-rank bit-exactly.
    */
  def signBitTopK(embeddings: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int, rerank: Int = 0, dim: Option[Int] = None): DataFrame = {
    val d = resolveDim(embeddings, vecCol, dim, "signBitTopK")
    require(d <= 64, s"signBitTopK packs <= 64 dims, got $d")
    val r = if (rerank > 0) rerank else math.max(4 * k, 32)
    val mid = math.min(32, d)
    val bits = embeddings.select(col(idCol).as("_bid"),
      col(vecCol).cast("array<double>").as("_bvec"))
      .withColumn("bits_lo", signBitsCol(col("_bvec"), 0, mid))
      .withColumn("bits_hi",
        if (d > 32) signBitsCol(col("_bvec"), 32, d) else lit(0L))
    val probe = bits.filter(col("_bid") === queryId)
      .select(col("bits_lo").as("_qlo"), col("bits_hi").as("_qhi"),
        col("_bvec").as("_qvec"))
    val ham = bit_count(col("bits_lo").bitwiseXOR(col("_qlo"))) +
      bit_count(col("bits_hi").bitwiseXOR(col("_qhi")))
    val topR = bits.join(broadcast(probe))
      .filter(col("_bid") =!= queryId)
      .select(col("_bid"), col("_bvec"), col("_qvec"), ham.as("hamming"))
      .orderBy(col("hamming"), col("_bid"))
      .limit(r)
    topR
      .select(col("_bid").as(idCol), col("hamming"),
        cosine(col("_bvec"), col("_qvec")).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** DuckDB replay of [[signBitTopK]]: unrolled CASE sums per 32-dim
    * half, `bit_count(xor(...))` hamming, the same (ham, id) top-R cut
    * and (cosine desc, id) re-rank.
    */
  def signBitTopKSql(dim: Int, queryId: Long, k: Int, rerank: Int): String = {
    require(dim <= 64)
    def half(from: Int, until: Int): String =
      if (from >= until) "0::BIGINT"
      else (from until until).map { i =>
        s"(CASE WHEN CAST(embedding[${i + 1}] AS DOUBLE) > 0 " +
          s"THEN ${1L << (i - from)}::BIGINT ELSE 0::BIGINT END)"
      }.mkString("(", " + ", ")")
    val cos = cosineSql("e.embedding", "q.embedding", dim)
    s"""WITH b AS (
       |  SELECT vec_id, ${half(0, math.min(32, dim))} AS bits_lo,
       |    ${half(32, dim)} AS bits_hi
       |  FROM embeddings),
       |qb AS (SELECT bits_lo AS qlo, bits_hi AS qhi FROM b WHERE vec_id = $queryId),
       |topr AS (
       |  SELECT b.vec_id,
       |    bit_count(xor(b.bits_lo, qb.qlo)) + bit_count(xor(b.bits_hi, qb.qhi)) AS hamming
       |  FROM b CROSS JOIN qb
       |  WHERE b.vec_id <> $queryId
       |  ORDER BY hamming, b.vec_id LIMIT $rerank)
       |SELECT t.vec_id, t.hamming, $cos AS cosine
       |FROM topr t
       |JOIN embeddings e ON t.vec_id = e.vec_id
       |CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = $queryId) q
       |ORDER BY cosine DESC, t.vec_id LIMIT $k""".stripMargin
  }

  /** Product-quantization codebook: for each of `m` subspaces, the
    * sub-vectors (dims `[s*dsub, (s+1)*dsub)`) of the `ksub` lowest-id
    * vectors, in id order. Codebook construction is an OFFLINE index-build
    * step in a real deployment (k-means per subspace over a sample); here
    * it is seeded deterministically from the data — the same idiom as
    * [[ivfCentroids]] — so the DuckDB oracle can re-derive it from the
    * table and replay the whole algorithm. The collect touches `ksub`
    * rows (the codebook is `m * ksub * dsub` doubles — KBs); pass a
    * pre-trained codebook to skip the job entirely.
    */
  def pqCodebook(embeddings: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int, dim: Int): Array[Array[Array[Double]]] = {
    val dsub = dim / m
    val rows = embeddings.orderBy(col(idCol)).limit(ksub)
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .collect()
      .sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    Array.tabulate(m)(s => rows.map(_.slice(s * dsub, (s + 1) * dsub)))
  }

  /** Bit-reproducible per-group mean WITHOUT materializing the group.
    * The training rounds used to build each group's
    * member list via `array_sort(collect_list(struct(id, v)))` and fold
    * it left-to-right — bit-exact, but the per-group array is
    * O(corpus / k) BOXED structs held by the object-hash aggregate: a
    * measured `java.lang.OutOfMemoryError` at 64 GiB training on
    * 10.4M vectors (TUNING r13, "deterministic training fold"). This
    * shape keeps the EXACT same arithmetic — ascending-id,
    * left-associated double adds from a 0.0 accumulator, then one
    * divide by the member count — but STREAMS it: hash-shuffle on the
    * group key, sort within partitions by (group, id) (a spillable
    * sort, not an in-memory array), and a constant-memory running
    * (sum, count) fold per contiguous group. Same value in every ulp
    * (ids are unique per group, so the sort order is identical), no
    * giant rows, any corpus size.
    */
  private[graft] def orderedGroupMeans(df: DataFrame, groupCols: Seq[String],
      idCol: Column, vCol: Column): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    val gCols = groupCols.map(col)
    val skinny = df
      .select(gCols :+ idCol.as("_ogm_id") :+ vCol.cast("double").as("_ogm_v"): _*)
      .repartition(gCols: _*)
      .sortWithinPartitions((groupCols :+ "_ogm_id").map(col): _*)
    val nG = groupCols.length
    val outSchema = StructType(
      skinny.schema.fields.take(nG) :+
        StructField("_m", DoubleType, nullable = true))
    skinny.mapPartitions { it =>
      def sameKey(a: Row, b: Row): Boolean = {
        var i = 0
        while (i < nG) { if (a.get(i) != b.get(i)) return false; i += 1 }
        true
      }
      new Iterator[Row] {
        private var pending: Row = null // first row of the next group
        def hasNext: Boolean = pending != null || it.hasNext
        def next(): Row = {
          val head = if (pending != null) pending else it.next()
          pending = null
          var sum = 0.0 // fold seed, as in aggregate(_vals, 0.0, ...)
          var cnt = 0L
          // a null value poisons the whole group's mean — exactly the
          // replaced fold's semantics (collect_list keeps struct(id,
          // NULL) and `acc + NULL` nulls the aggregate), NOT avg's
          // skip-nulls; crashing or skipping would silently fork the
          // two determinism modes on the same input
          var sawNull = false
          def add(r: Row): Unit = {
            if (r.isNullAt(nG + 1)) sawNull = true
            else sum += r.getDouble(nG + 1)
            cnt += 1L
          }
          add(head)
          var open = true
          while (open && it.hasNext) {
            val r = it.next()
            if (sameKey(r, head)) add(r)
            else { pending = r; open = false }
          }
          Row.fromSeq((0 until nG).map(head.get) :+
            (if (sawNull) null else sum / cnt))
        }
      }
    }(Encoders.row(outSchema))
  }

  /** Trained PQ codebook: per-subspace k-means (L2 metric — the PQ
    * objective) over the sub-vectors, all `m` subspaces trained in ONE
    * unrolled lazy plan (the subspace id is just another grouping
    * column). Init mirrors [[pqCodebook]] (the `ksub` lowest-id rows per
    * subspace); each round is an argmin-L2 assignment (broadcast
    * centroids, skinny `(id, s, j, dist)` ranking — vectors never ride
    * the window shuffle) and a per-(subspace, code, dim) mean; empty
    * cells keep their previous centroid. Each mean folds over members
    * SORTED BY ID (the [[kmeansCentroids]] idiom, streamed by
    * [[orderedGroupMeans]] — no per-group arrays), so training is
    * bit-reproducible at any partitioning and the DuckDB oracle replays
    * every round ([[pqTopKTrainedSql]]).
    *
    * The final `.collect()` materializes `m * ksub * dsub` doubles (KBs)
    * — codebook training is an OFFLINE index-build step (run once over a
    * sample at ingest, ship the codebook as literals with the query),
    * exactly like [[pqCodebook]]'s seeded variant; a trained codebook
    * cuts ADC quantization error where the data is far from the seeds.
    */
  def pqCodebookTrained(embeddings: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int, dim: Int, iterations: Int = 2): Array[Array[Array[Double]]] = {
    val dsub = dim / m
    val subs = embeddings
      .withColumn("_vd", col(vecCol).cast("array<double>"))
      .select(col(idCol).cast("long").as("_sid"),
        posexplode(array((0 until m).map(s =>
          slice(col("_vd"), s * dsub + 1, dsub)): _*)).as(Seq("_s", "_svec")))
    val seedW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_s")).orderBy(col("_sid"))
    var cent = subs
      .join(broadcast(embeddings.orderBy(col(idCol)).limit(ksub)
        .select(col(idCol).cast("long").as("_sid"))), Seq("_sid"))
      .withColumn("_j", row_number().over(seedW) - 1)
      .select(col("_s"), col("_j"), col("_svec").as("_cvec"))
    (0 until iterations).foreach { _ =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("_sid"), col("_s")).orderBy(col("_dist"), col("_j"))
      val assigned = subs.join(broadcast(cent), Seq("_s"))
        // ||c||^2 - 2<v,c>: the row term is constant across j, argmin
        // ignores it — the same decomposition (and double op order) the
        // encode stage and the SQL twin state
        .select(col("_sid"), col("_s"), col("_j"),
          (SimExpressions.dot(col("_cvec"), col("_cvec")) -
            lit(2.0) * SimExpressions.dot(col("_svec"), col("_cvec"))).as("_dist"))
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
        .select(col("_sid"), col("_s"), col("_j"))
      val perDim = assigned.join(subs, Seq("_sid", "_s"))
        .select(col("_sid"), col("_s"), col("_j"),
          posexplode(col("_svec")).as(Seq("_pos", "_v")))
      val means = orderedGroupMeans(perDim, Seq("_s", "_j", "_pos"),
          col("_sid"), col("_v"))
        .groupBy(col("_s"), col("_j"))
        .agg(array_sort(collect_list(struct(col("_pos"), col("_m")))).as("_pm"))
        .select(col("_s"), col("_j"),
          expr("transform(_pm, x -> x._m)").as("_newvec"))
      cent = cent.join(means, Seq("_s", "_j"), "left")
        .select(col("_s"), col("_j"),
          coalesce(col("_newvec"), col("_cvec")).as("_cvec"))
    }
    val cb = Array.ofDim[Array[Double]](m, ksub)
    cent.collect().foreach { r =>
      cb(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray
    }
    cb
  }

  /** ANN via product quantization (PQ): each vector is encoded as `m`
    * small codes (argmin-L2 sub-vector centroid per subspace, ties to the
    * lower index), candidates are scored by cosine against the
    * RECONSTRUCTED vector (codebook lookup — algebraically the ADC
    * table-lookup score), the best `rerank` are re-scored with exact
    * cosine, and the top `k` of those are returned as
    * `(id, adc, cosine)`.
    *
    * Scale shape: encoding is a pure scan-side codegen projection over
    * codebook literals (at 100 TB it runs once at ingest and the codes
    * persist); the candidate ranking carries ONLY `(id, m codes)` — for
    * dim=64 float32 that is 256 bytes -> ~9 bytes of payload, 28x fewer
    * bytes than shipping vectors, 8x fewer than int8 — the skinny-ranking
    * rule the IVF path established; the reconstruct-dot runs against a
    * broadcast probe (no shuffle); top-R is an ordered limit; only R rows
    * ever touch float payload again (broadcast id-join for re-rank).
    *
    * Every step is double arithmetic with pinned order + id tie-breaks,
    * so the approximate result is bit-reproducible ([[pqTopKSql]]).
    */
  def pqTopK(embeddings: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int, m: Int = 8, ksub: Int = 16, rerank: Int = 0,
      dim: Option[Int] = None,
      codebook: Option[Array[Array[Array[Double]]]] = None,
      precomputedCodes: Option[DataFrame] = None): DataFrame = {
    val d = resolveDim(embeddings, vecCol, dim, "pqTopK")
    require(d % m == 0, s"pqTopK: dim $d not divisible into $m subspaces")
    val dsub = d / m
    codebook.foreach(requireCodebookShape(_, m, ksub, dsub, "pqTopK"))
    val cb = codebook.getOrElse(pqCodebook(embeddings, idCol, vecCol, m, ksub, d))
    val r = if (rerank > 0) rerank else math.max(4 * k, 32)
    // precomputedCodes = the staged [[pqEncodedRelation]]: probe-time
    // cost only — encode amortized at ingest. Validated against the
    // resolved codebook (column shape + fingerprint stamp)
    precomputedCodes.foreach(requireCodesCompatible(_, cb, m, "pqTopK"))
    val coded = precomputedCodes.getOrElse(
      pqCodes(embeddings, idCol, vecCol, cb, m, dsub, ksub))
    val probe = embeddings.filter(col(idCol) === queryId)
      .select(col(vecCol).cast("array<double>").as("_qvec"))
    val topR = coded.join(broadcast(probe))
      .filter(col(idCol) =!= queryId)
      .select(col(idCol), cosine(pqReconCol(cb, m), col("_qvec")).as("adc"))
      .orderBy(col("adc").desc, col(idCol))
      .limit(r)
    embeddings.select(col(idCol), col(vecCol))
      .join(broadcast(topR), Seq(idCol))
      .join(broadcast(probe))
      .select(col(idCol), col("adc"),
        cosine(col(vecCol), col("_qvec")).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** IVF-PQ: the coarse quantizer ([[ivfAssign]] — nProbe nearest
    * clusters) prunes the candidate set, PQ codes rank the survivors,
    * exact cosine re-ranks the top R. The composition that completes the
    * quantized-ANN family: at 100 TB the inverted lists shard by cluster
    * (only nProbe lists are read), and within a list only codes travel.
    */
  def ivfPqTopK(embeddings: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int, numClusters: Int = 16, nProbe: Int = 4,
      m: Int = 8, ksub: Int = 16, rerank: Int = 0, dim: Option[Int] = None,
      codebook: Option[Array[Array[Array[Double]]]] = None,
      precomputedCodes: Option[DataFrame] = None): DataFrame = {
    val d = resolveDim(embeddings, vecCol, dim, "ivfPqTopK")
    require(d % m == 0, s"ivfPqTopK: dim $d not divisible into $m subspaces")
    val dsub = d / m
    codebook.foreach(requireCodebookShape(_, m, ksub, dsub, "ivfPqTopK"))
    val cb = codebook.getOrElse(pqCodebook(embeddings, idCol, vecCol, m, ksub, d))
    precomputedCodes.foreach { codes =>
      requireCodesCompatible(codes, cb, m, "ivfPqTopK")
      // the IVF path additionally probes inverted lists by cluster id
      require(codes.columns.contains("cluster"),
        s"ivfPqTopK: precomputedCodes must be the pqEncodedRelation " +
          s"(with a cluster column); got (${codes.columns.mkString(", ")})")
    }
    val r = if (rerank > 0) rerank else math.max(4 * k, 32)
    val query = embeddings.filter(col(idCol) === queryId)
      .select(col(vecCol).cast("array<double>").as("_qvec"))
    val probed = ivfCentroids(embeddings, idCol, vecCol, numClusters)
      .join(broadcast(query))
      .select(col("_cid"), cosine(col("_cvec"), col("_qvec")).as("_qsim"))
      .orderBy(col("_qsim").desc, col("_cid"))
      .limit(nProbe)
      .select(col("_cid").as("cluster"))
    // precomputedCodes = the staged [[pqEncodedRelation]] (same codebook,
    // same numClusters): the probe reads only the nProbe inverted lists'
    // codes — assignment + encode amortized at ingest
    val candCodes = precomputedCodes match {
      case Some(codes) => codes.join(broadcast(probed), Seq("cluster"), "left_semi")
      case None =>
        val cand = ivfAssign(embeddings, idCol, vecCol, numClusters)
          .join(broadcast(probed), Seq("cluster"), "left_semi")
        pqCodes(cand, idCol, vecCol, cb, m, dsub, ksub)
    }
    val topR = candCodes
      .join(broadcast(query))
      .filter(col(idCol) =!= queryId)
      .select(col(idCol), cosine(pqReconCol(cb, m), col("_qvec")).as("adc"))
      .orderBy(col("adc").desc, col(idCol))
      .limit(r)
    embeddings.select(col(idCol), col(vecCol))
      .join(broadcast(topR), Seq(idCol))
      .join(broadcast(query))
      .select(col(idCol), col("adc"),
        cosine(col(vecCol), col("_qvec")).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** `(id, _code0.._code{m-1})` — the skinny encoded relation. The
    * distance uses the `||c_j||^2 - 2<v_s, c_j>` decomposition (the row
    * term `||v_s||^2` is constant across j so argmin ignores it): the dot
    * runs in the LOOPED codegen [[DotProductExpr]] over a once-hoisted
    * slice, keeping generated code compact — the fully-unrolled `(a-b)^2`
    * form tripped the codegen size limit and ran interpreted (2.2x,
    * measured). Argmin is `least` + a first-match `when` chain over the
    * PRE-MATERIALIZED distance columns — all primitive-double codegen.
    * Measured at 1M rows (round 5, NOTES): `array_min` over
    * (dist, idx) structs ran the interpreted struct comparator at 97.7 s;
    * the when-chain with INLINE dists still re-evaluated each dot per
    * branch (conditionals defer subexpression elimination) at 59.9 s;
    * materializing the dists first runs the full query in 5.0 s (~20x).
    * First-match-on-min == ties to the lower index, the order
    * [[pqSqlCore]]'s `(dist, cidx)` ranking states.
    */
  /** Deterministic fingerprint of a PQ codebook: stamped onto encoded
    * relations ([[pqCodes]] puts it in `_code0`'s column metadata, which
    * survives a parquet round-trip) and require-checked at the probe
    * hooks — codes decoded against a different codebook than they were
    * encoded with produce silently wrong ADC scores otherwise.
    */
  private def codebookFingerprint(cb: Array[Array[Array[Double]]]): Long = {
    var h = 1125899906842597L
    var s = 0
    while (s < cb.length) {
      var j = 0
      while (j < cb(s).length) {
        var t = 0
        while (t < cb(s)(j).length) {
          h = h * 31 + java.lang.Double.doubleToLongBits(cb(s)(j)(t))
          t += 1
        }
        j += 1
      }
      s += 1
    }
    h
  }

  /** Require a caller-passed codebook to have the (m, ksub, dsub) shape
    * the probe's parameters describe. */
  private def requireCodebookShape(cb: Array[Array[Array[Double]]],
      m: Int, ksub: Int, dsub: Int, what: String): Unit =
    require(cb.length == m && cb.forall(_.length == ksub)
        && cb.forall(_.forall(_.length == dsub)),
      s"$what: codebook shape (${cb.length} subspaces x " +
        s"${cb.headOption.map(_.length).getOrElse(0)} centroids x " +
        s"${cb.headOption.flatMap(_.headOption).map(_.length).getOrElse(0)} dims) " +
        s"does not match m=$m, ksub=$ksub, dsub=$dsub")

  /** Require a caller-passed encoded relation to carry exactly the
    * `_code0.._code{m-1}` columns, and — when it carries [[pqCodes]]'
    * fingerprint stamp — to have been encoded with the codebook in hand.
    * An unstamped (hand-built) relation is accepted on the caller's
    * contract.
    */
  private def requireCodesCompatible(codes: DataFrame,
      cb: Array[Array[Array[Double]]], m: Int, what: String): Unit = {
    val cols = codes.columns.toSet
    require((0 until m).forall(i => cols.contains(s"_code$i"))
        && !cols.contains(s"_code$m"),
      s"$what: precomputedCodes must carry exactly _code0.._code${m - 1}; " +
        s"got (${codes.columns.mkString(", ")})")
    val md = codes.schema("_code0").metadata
    if (md.contains("graft.pq.cbFp"))
      require(md.getLong("graft.pq.cbFp") == codebookFingerprint(cb),
        s"$what: precomputedCodes were encoded with a DIFFERENT codebook " +
          s"than this probe resolves — re-encode or pass the matching codebook")
  }

  private def pqCodes(embeddings: DataFrame, idCol: String, vecCol: String,
      cb: Array[Array[Array[Double]]], m: Int, dsub: Int, ksub: Int,
      carry: Seq[String] = Nil): DataFrame = {
    val keep = col(idCol) +: carry.map(col)
    val sliced = embeddings
      .withColumn("_vd", col(vecCol).cast("array<double>"))
      .select(keep ++ (0 until m).map(s =>
        slice(col("_vd"), s * dsub + 1, dsub).as(s"_sub$s")): _*)
    def scoreCol(s: Int, j: Int): Column = {
      val cj = cb(s)(j)
      val norm = cj.foldLeft(0.0)((a, x) => a + x * x)
      lit(norm) - lit(2.0) * SimExpressions.dot(col(s"_sub$s"), typedLit(cj.toSeq))
    }
    // materialize every distance in its OWN projection: conditional
    // branches defer subexpression elimination, so an inline when-chain
    // re-evaluated each dot up to (ksub+1) times (measured: the 1M encode
    // stage burned 1,778 CPU-s); as separate non-cheap aliases used
    // multiple times, CollapseProject keeps them materialized and each
    // dot runs once
    val withDists = sliced.select(
      keep ++ (for (s <- 0 until m; j <- 0 until ksub)
        yield scoreCol(s, j).as(s"_d${s}_$j")): _*)
    def codeCol(s: Int): Column = {
      val dists = (0 until ksub).map(j => col(s"_d${s}_$j"))
      val dmin = least(dists: _*)
      (1 until ksub).foldLeft(when(dists(0) === dmin, lit(0))) {
        (acc, j) => acc.when(dists(j) === dmin, lit(j))
      }.otherwise(lit(ksub - 1))
    }
    val fpMeta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("graft.pq.cbFp", codebookFingerprint(cb)).build()
    withDists.select(keep ++ (0 until m).map(s =>
      if (s == 0) codeCol(s).as("_code0", fpMeta)
      else codeCol(s).as(s"_code$s")): _*)
  }

  /** The at-ingest PQ index relation `(id, cluster, _code0.._code{m-1})`:
    * IVF coarse assignment + PQ codes in one pass — the artifact a
    * production deployment writes ONCE at ingest and every query probes
    * (encode cost amortizes over the corpus lifetime; queries touch ~9
    * bytes/vector of codes, never the floats until re-rank). Pair with
    * [[pqTopK]]/[[ivfPqTopK]]'s `precomputedCodes` hook; the codes must
    * have been produced with the SAME codebook the probe passes
    * (caller's contract, exactly like `precomputedPairs` in
    * [[graft.dedup.Dedup.nearDedup]]).
    */
  def pqEncodedRelation(embeddings: DataFrame, idCol: String, vecCol: String,
      cb: Array[Array[Array[Double]]], m: Int, ksub: Int, dim: Int,
      numClusters: Int): DataFrame =
    pqCodes(ivfAssign(embeddings, idCol, vecCol, numClusters),
      idCol, vecCol, cb, m, dim / m, ksub, carry = Seq("cluster"))

  /** Reconstructed vector from `_code*` columns: per-subspace centroid
    * lookup in the literal codebook, concatenated in subspace order.
    */
  private def pqReconCol(cb: Array[Array[Array[Double]]], m: Int): Column =
    concat((0 until m).map { s =>
      element_at(typedLit(cb(s).map(_.toSeq).toSeq), col(s"_code$s") + 1)
    }: _*)

  /** DuckDB replay of [[pqTopK]]: codebook re-derived from the `ksub`
    * lowest-id vectors, codes via windowed argmin with the same
    * left-associated `(a-b)*(a-b)` distance sums and `(dist, cidx)`
    * tie-break, reconstruction via codebook join + ordered flatten, the
    * same (adc desc, id) top-R cut and (cosine desc, id) re-rank.
    */
  def pqTopKSql(dim: Int, queryId: Long, k: Int, m: Int = 8, ksub: Int = 16,
      rerank: Int = 40): String =
    pqSqlCore(dim, queryId, k, m, ksub, rerank, candidateCtes = None)

  /** DuckDB replay of [[ivfPqTopK]]: [[ivfTopKSql]]'s coarse
    * cent/assigned/probed stages bound the candidate set, then the PQ
    * stages of [[pqTopKSql]] run over the survivors.
    */
  def ivfPqTopKSql(dim: Int, queryId: Long, k: Int, numClusters: Int = 16,
      nProbe: Int = 4, m: Int = 8, ksub: Int = 16, rerank: Int = 40): String =
    pqSqlCore(dim, queryId, k, m, ksub, rerank,
      candidateCtes = Some(ivfCoarseCtes(dim, queryId, numClusters, nProbe)))

  /** Coarse-quantizer CTE prefix shared by the IVF-PQ replays: lowest-id
    * centroids, argmax-cosine assignment, probe ranking → `cand(vec_id)`.
    */
  private def ivfCoarseCtes(dim: Int, queryId: Long, numClusters: Int,
      nProbe: Int): String = {
    val cosEC = cosineSql("e.embedding", "c.cvec", dim)
    val cosCQ = cosineSql("c.cvec", "q0.qvec", dim)
    s"""ccent AS (SELECT vec_id AS cid, embedding AS cvec FROM e ORDER BY vec_id LIMIT $numClusters),
       |assigned AS MATERIALIZED (
       |  SELECT vec_id, cid AS cluster FROM (
       |    SELECT e.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY $cosEC DESC, c.cid) AS crn
       |    FROM e CROSS JOIN ccent c) WHERE crn = 1),
       |q0 AS (SELECT embedding AS qvec FROM e WHERE vec_id = $queryId),
       |probed AS (
       |  SELECT cid AS cluster FROM (
       |    SELECT c.cid, row_number() OVER (ORDER BY $cosCQ DESC, c.cid) AS qrn
       |    FROM ccent c CROSS JOIN q0) WHERE qrn <= $nProbe),
       |cand AS (SELECT a.vec_id FROM assigned a JOIN probed USING (cluster))""".stripMargin
  }

  /** DuckDB replay of [[pqTopK]] with a [[pqCodebookTrained]] codebook:
    * the per-subspace training unrolls into seed/rank/assign/mean/cent
    * CTE stages — the [[ivfTopKTrainedSql]] machinery generalized with the subspace id as an extra grouping
    * column and argmin-L2 in place of argmax-cosine — then encode,
    * reconstruct, ADC top-R and exact re-rank mirror [[pqTopKSql]].
    */
  def pqTopKTrainedSql(dim: Int, queryId: Long, k: Int, m: Int = 8,
      ksub: Int = 16, rerank: Int = 40, trainIterations: Int = 2): String =
    pqTrainedSqlCore(dim, queryId, k, m, ksub, rerank, trainIterations,
      candidateCtes = None)

  /** DuckDB replay of [[ivfPqTopK]] with a trained codebook: coarse
    * pruning ([[ivfCoarseCtes]]) + trained-PQ ranking.
    */
  def ivfPqTopKTrainedSql(dim: Int, queryId: Long, k: Int,
      numClusters: Int = 16, nProbe: Int = 4, m: Int = 8, ksub: Int = 16,
      rerank: Int = 40, trainIterations: Int = 2): String =
    pqTrainedSqlCore(dim, queryId, k, m, ksub, rerank, trainIterations,
      candidateCtes = Some(ivfCoarseCtes(dim, queryId, numClusters, nProbe)))

  /** The trained-PQ CTE prefix shared by the single-query replays and
    * the recall audit: `e`, optional candidate CTEs, subvector slices,
    * seeded `pcent0`, the unrolled training rounds, final `codes` and
    * `recon(vec_id, rvec)`. Returned WITHOUT the leading `WITH ` so
    * composers can append their own tails.
    */
  private def pqTrainedReconCtes(dim: Int, m: Int, ksub: Int,
      trainIterations: Int, candidateCtes: Option[String] = None): Seq[String] = {
    val dsub = dim / m
    // ||c_j||^2 - 2<v_s, c_j> over the ALREADY-SLICED subvector relation:
    // left-assoc index-ascending sums, the exact double op order of the
    // Spark trainer's DotProductExpr decomposition
    def dist(vecRef: String): String = {
      val norm = (1 to dsub).map { i =>
        val c = s"CAST(c.cvec[$i] AS DOUBLE)"
        s"$c * $c"
      }.mkString(" + ")
      val dotq = (1 to dsub).map(i =>
        s"CAST($vecRef[$i] AS DOUBLE) * CAST(c.cvec[$i] AS DOUBLE)")
        .mkString(" + ")
      s"(($norm) - 2 * ($dotq))"
    }
    val trainCtes = (1 to trainIterations).flatMap { i =>
      Seq(
        s"""prank$i AS MATERIALIZED (
           |  SELECT b.vec_id, b.s, c.j,
           |    row_number() OVER (PARTITION BY b.vec_id, b.s
           |      ORDER BY ${dist("b.svec")}, c.j) AS rn
           |  FROM sub b JOIN pcent${i - 1} c ON b.s = c.s)""".stripMargin,
        s"passign$i AS MATERIALIZED (SELECT vec_id, s, j FROM prank$i WHERE rn = 1)",
        s"""pmean$i AS MATERIALIZED (
           |  SELECT s, j, list(mval ORDER BY pos) AS mvec FROM (
           |    SELECT a.s, a.j, t.pos,
           |      list_reduce(list_prepend(0.0::DOUBLE,
           |        list(b.svec[t.pos+1]::DOUBLE ORDER BY b.vec_id)),
           |        (acc, x) -> acc + x) / count(*) AS mval
           |    FROM passign$i a JOIN sub b ON a.vec_id = b.vec_id AND a.s = b.s
           |    CROSS JOIN range($dsub) t(pos)
           |    GROUP BY a.s, a.j, t.pos)
           |  GROUP BY s, j)""".stripMargin,
        s"""pcent$i AS MATERIALIZED (
           |  SELECT p.s, p.j, coalesce(m.mvec, p.cvec) AS cvec
           |  FROM pcent${i - 1} p LEFT JOIN pmean$i m ON p.s = m.s AND p.j = m.j)""".stripMargin)
    }
    val T = trainIterations
    Seq("e AS (SELECT vec_id, embedding FROM embeddings)") ++
      candidateCtes.toSeq ++ Seq(
      s"""sub AS MATERIALIZED (
         |  SELECT e.vec_id, t.s,
         |    e.embedding[(t.s*$dsub + 1):(t.s*$dsub + $dsub)] AS svec
         |  FROM e CROSS JOIN range($m) t(s))""".stripMargin,
      s"""pcent0 AS MATERIALIZED (
         |  SELECT s, row_number() OVER (PARTITION BY s ORDER BY vec_id) - 1 AS j,
         |    list_transform(svec, x -> x::DOUBLE) AS cvec
         |  FROM sub
         |  WHERE vec_id IN (SELECT vec_id FROM e ORDER BY vec_id LIMIT $ksub))""".stripMargin) ++
      trainCtes ++ Seq(
      s"""codes AS MATERIALIZED (
         |  SELECT vec_id, s, j AS code FROM (
         |    SELECT b.vec_id, b.s, c.j,
         |      row_number() OVER (PARTITION BY b.vec_id, b.s
         |        ORDER BY ${dist("b.svec")}, c.j) AS rn
         |    FROM sub b JOIN pcent$T c ON b.s = c.s) WHERE rn = 1)""".stripMargin,
      s"""recon AS MATERIALIZED (
         |  SELECT vec_id, flatten(list(cvec ORDER BY s)) AS rvec FROM (
         |    SELECT cd.vec_id, cd.s, c.cvec
         |    FROM codes cd JOIN pcent$T c ON c.s = cd.s AND c.j = cd.code)
         |  GROUP BY vec_id)""".stripMargin)
  }

  private def pqTrainedSqlCore(dim: Int, queryId: Long, k: Int, m: Int,
      ksub: Int, rerank: Int, trainIterations: Int,
      candidateCtes: Option[String]): String = {
    val candFilter = candidateCtes
      .map(_ => "AND r.vec_id IN (SELECT vec_id FROM cand)").getOrElse("")
    "WITH " + (pqTrainedReconCtes(dim, m, ksub, trainIterations,
      candidateCtes) ++ Seq(
      s"q AS (SELECT embedding AS qvec FROM e WHERE vec_id = $queryId)",
      s"""topr AS (
         |  SELECT r.vec_id, ${cosineSql("r.rvec", "q.qvec", dim)} AS adc
         |  FROM recon r CROSS JOIN q
         |  WHERE r.vec_id <> $queryId $candFilter
         |  ORDER BY adc DESC, r.vec_id LIMIT $rerank)""".stripMargin))
      .mkString(",\n") +
      s"""
         |SELECT t.vec_id, t.adc, ${cosineSql("e.embedding", "q.qvec", dim)} AS cosine
         |FROM topr t JOIN e ON e.vec_id = t.vec_id CROSS JOIN q
         |ORDER BY cosine DESC, t.vec_id LIMIT $k""".stripMargin
  }

  private def pqSqlCore(dim: Int, queryId: Long, k: Int, m: Int, ksub: Int,
      rerank: Int, candidateCtes: Option[String]): String = {
    val dsub = dim / m
    // ||c_j||^2 - 2<v_s, c_j> with index-ascending left-assoc sums — the
    // exact arithmetic of pqCodes (driver-folded norm, DotProductExpr dot)
    val dist = {
      val norm = (0 until dsub).map { i =>
        val c = s"CAST(c.cvec[t.s*$dsub + ${i + 1}] AS DOUBLE)"
        s"$c * $c"
      }.mkString(" + ")
      val dotq = (0 until dsub).map { i =>
        s"CAST(e.embedding[t.s*$dsub + ${i + 1}] AS DOUBLE) * " +
          s"CAST(c.cvec[t.s*$dsub + ${i + 1}] AS DOUBLE)"
      }.mkString(" + ")
      s"(($norm) - 2 * ($dotq))"
    }
    val sub = (0 until dsub).map(i =>
      s"CAST(c.cvec[cd.s*$dsub + ${i + 1}] AS DOUBLE)").mkString("[", ", ", "]")
    val candFilter = candidateCtes
      .map(_ => "AND r.vec_id IN (SELECT vec_id FROM cand)").getOrElse("")
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |${candidateCtes.map(c => c + ",\n").getOrElse("")}cent AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cidx, embedding AS cvec
       |  FROM (SELECT * FROM e ORDER BY vec_id LIMIT $ksub)),
       |codes AS MATERIALIZED (
       |  SELECT vec_id, s, cidx AS code FROM (
       |    SELECT e.vec_id, t.s, c.cidx,
       |      row_number() OVER (PARTITION BY e.vec_id, t.s
       |        ORDER BY $dist, c.cidx) AS rn
       |    FROM e CROSS JOIN range($m) t(s) CROSS JOIN cent c) WHERE rn = 1),
       |recon AS MATERIALIZED (
       |  SELECT vec_id, flatten(list(sub ORDER BY s)) AS rvec FROM (
       |    SELECT cd.vec_id, cd.s, $sub AS sub
       |    FROM codes cd JOIN cent c ON c.cidx = cd.code) GROUP BY vec_id),
       |q AS (SELECT embedding AS qvec FROM e WHERE vec_id = $queryId),
       |topr AS (
       |  SELECT r.vec_id, ${cosineSql("r.rvec", "q.qvec", dim)} AS adc
       |  FROM recon r CROSS JOIN q
       |  WHERE r.vec_id <> $queryId $candFilter
       |  ORDER BY adc DESC, r.vec_id LIMIT $rerank)
       |SELECT t.vec_id, t.adc, ${cosineSql("e.embedding", "q.qvec", dim)} AS cosine
       |FROM topr t JOIN e ON e.vec_id = t.vec_id CROSS JOIN q
       |ORDER BY cosine DESC, t.vec_id LIMIT $k""".stripMargin
  }

  /** Round-robin spread of the STREAMED side of an all-pairs
    * (broadcast-nested-loop) pair loop. A small collection read from one
    * parquet file is ONE scan task, so the O(n·|build|) pair loop — the
    * dominant cost by far — runs single-threaded no matter how many cores
    * exist (measured: x_knn_topk 3.8 s solo with a 1-task stream side at
    * sf0.1/local[32]). The repartition shuffles only the LINEAR row set to
    * `defaultParallelism` (scale-adaptive, never a local constant) to
    * parallelize the QUADRATIC pair work — a trade that holds at every
    * scale, and a no-op-sized cost when the side is already wide. Results
    * are placement-independent (pair set, window ranks, aggregates), so
    * this cannot change what any query computes.
    *
    * Statistics-gated via [[graft.ops.Parallelism.spreadIfNarrow]] (r16
    * verdict item 5): an unconditional repartition would force a full
    * shuffle of an already-wide side at production scale — and could even
    * REDUCE its partition count to defaultParallelism. The gate makes the
    * spread a provable no-op once the input exceeds
    * defaultParallelism × maxPartitionBytes.
    */
  private def spreadForPairLoop(df: DataFrame): DataFrame =
    graft.ops.Parallelism.spreadIfNarrow(df)

  /** All pairs with cosine >= tau. NB: this is the exact O(n^2) formulation
    * (a cross join with an inequality filter) — correct at verification
    * scale; at 100 TB use [[lshCosinePairs]], which replaces the cross join
    * with an equi-join on hyperplane-sign buckets.
    */
  def cosineNearDupPairs(embeddings: DataFrame, idCol: String, vecCol: String,
      tau: Double): DataFrame = {
    // precompute each row's double-cast vector and norm once (same doubles
    // as computing them per pair, so the oracle formula
    // dot/(sqrt(na)*sqrt(nb)) is unchanged) — the per-pair work is then a
    // single codegen'd dot with no per-pair array cast/copy
    val normed = embeddings.select(col(idCol).as("_nid"),
      col(vecCol).cast("array<double>").as("_nvec"),
      sqrt(SimExpressions.dot(col(vecCol), col(vecCol))).as("_nnorm"))
    val a = spreadForPairLoop(normed)
      .select(col("_nid").as("id_a"), col("_nvec").as("_va"), col("_nnorm").as("_na"))
    val b = normed.select(col("_nid").as("id_b"), col("_nvec").as("_vb"), col("_nnorm").as("_nb"))
    val cosineExpr =
      SimExpressions.dot(col("_va"), col("_vb")) / (col("_na") * col("_nb"))
    // evaluate the threshold INSIDE the join condition: the nested-loop
    // join then only materializes matching pairs instead of copying both
    // vectors for every candidate combination (~3x at low parallelism)
    a.join(b, col("id_a") < col("id_b") && cosineExpr >= tau)
      .select(col("id_a"), col("id_b"), cosineExpr.as("cosine"))
  }

  /** Deterministic pseudo-random unit-free hyperplanes (fixed seed) for
    * sign-LSH. Generated driver-side once; shipped as literals.
    */
  def hyperplanes(dim: Int, count: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(count)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-LSH bucket id: one bit per hyperplane (sign of the dot product).
    * Vectors with high cosine land in the same bucket with high
    * probability; bucketing is a plain column, so candidate generation is
    * an equi-join — the scale path for near-neighbor search.
    *
    * One codegen'd [[LshBucketExpr]] per table: the plane matrix is a
    * primitive reference object, not per-plane folded array literals
    * (whose boxed element accesses made bucketing ~50x slower — see the
    * expression's scaladoc). Bit-identical to the per-plane composition.
    */
  def lshBucket(vec: Column, planes: Array[Array[Double]]): Column =
    org.apache.spark.sql.GraftColumnBridge.column(LshBucketExpr(
      org.apache.spark.sql.GraftColumnBridge.expression(vec.cast("array<double>")),
      planes.map(_.toSeq).toSeq))

  /** Bucketed cosine near-duplicate pairs — the 100 TB path that replaces
    * [[cosineNearDupPairs]]'s exact O(n^2) nested-loop join with a
    * candidates-then-verify plan, the same shape as MinHash+LSH for text:
    *
    *  1. candidates: `numTables` independent sign-LSH bucketings of
    *     `planesPerTable` hyperplanes each; vectors sharing a (table,
    *     bucket) cell become candidates via a plain EQUI-join — pair
    *     count is bounded by bucket occupancy, never n^2;
    *  2. verify: exact cosine (codegen'd [[DotProductExpr]], identical op
    *     order to the oracle) filters candidates to true pairs, so
    *     precision is exact.
    *
    * Recall is the banding guarantee: a pair at angle theta shares one
    * table's bucket with p = (1 - theta/pi)^planesPerTable, so the miss
    * probability is (1 - p)^numTables — e.g. a near-identical pair at
    * cosine 0.9998 is missed with prob ~2e-10 at the defaults, while a
    * pair exactly AT a low threshold has materially lower recall. This is
    * the inherent LSH trade: the method needs a similarity GAP between
    * duplicates and background (real embedding near-dup corpora have
    * one); thresholds inside the background distribution (e.g. tau 0.4 on
    * random unit vectors) admit no sub-quadratic exact method — see
    * [[graft.DerivedModel.embeddingsAugmented]].
    */
  def lshCosinePairs(embeddings: DataFrame, idCol: String, vecCol: String,
      tau: Double, numTables: Int = 8, planesPerTable: Int = 12,
      seed: Long = 42L, dim: Option[Int] = None): DataFrame = {
    val d = resolveDim(embeddings, vecCol, dim, "lshCosinePairs")
    // vectors + norms computed once per row (same doubles as per-pair, so
    // the verify cosine is bit-identical to the exact formulation); the
    // relation feeds both sides of the bucket self-join -> persist
    val normed = graft.Persisted.track(embeddings.select(col(idCol).as("_nid"),
      col(vecCol).cast("array<double>").as("_nvec"),
      sqrt(SimExpressions.dot(col(vecCol), col(vecCol))).as("_nnorm"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // each table's bucket is computed as its OWN projection column before
    // anything is assembled: whole-stage codegen splits methods per
    // top-level expression, whereas one explode(array(struct(bucket...)))
    // containing every table's plane dots is a single oversized
    // expression that drops to interpreted eval (measured 100x slower on
    // a 100k-vector corpus; TUNING, `numTables` / `planesPerTable` row)
    val withBuckets = normed.select(
      Seq(col("_nid"), col("_nvec"), col("_nnorm")) ++
        (0 until numTables).map { t =>
          val planes = hyperplanes(d, planesPerTable, seed + t)
          lshBucket(col("_nvec"), planes).as(s"_b$t")
        }: _*)
    // vectors travel THROUGH the bucket self-join (shuffled numTables x,
    // i.e. |corpus| x tables wide rows) and the cosine threshold sits
    // INSIDE the join condition — candidates that fail tau are verified
    // in codegen and never materialized. The alternative (skinny
    // candidate pairs + two vector lookup joins) shuffles the vector
    // payload once PER CANDIDATE PAIR, which under bucket collisions is
    // orders of magnitude more bytes than |corpus| x tables.
    val bucketed = withBuckets
      .select(col("_nid"), col("_nvec"), col("_nnorm"),
        explode(array((0 until numTables).map(t =>
          struct(lit(t).as("tbl"), col(s"_b$t").as("bucket"))): _*)).as("tb"))
      .select(col("_nid"), col("_nvec"), col("_nnorm"),
        col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    val a = bucketed.select(col("tbl"), col("bucket"), col("_nid").as("id_a"),
      col("_nvec").as("_va"), col("_nnorm").as("_na"))
    val b = bucketed.select(col("tbl").as("tbl_b"), col("bucket").as("bucket_b"),
      col("_nid").as("id_b"), col("_nvec").as("_vb"), col("_nnorm").as("_nb"))
    val cosineExpr =
      SimExpressions.dot(col("_va"), col("_vb")) / (col("_na") * col("_nb"))
    a.join(b, col("tbl") === col("tbl_b") && col("bucket") === col("bucket_b") &&
        col("id_a") < col("id_b") && cosineExpr >= tau)
      .select(col("id_a"), col("id_b"), cosineExpr.as("cosine"))
      // a true pair can meet in several tables; its (ids, cosine) row is
      // bit-identical each time, so distinct dedups exactly
      .distinct()
  }

  /** [[lshCosinePairs]] with the int8-quantized payload — the composition
    * the 100 TB shuffle-byte measurement motivates: the bucket self-join
    * shuffles |corpus| x numTables rows, and here each row carries a
    * 1-byte-per-dim `array<tinyint>` instead of the float path's
    * 8-byte-per-dim doubles (~7x fewer exchange bytes measured,
    * TUNING, `int8 quantization` row). The ENTIRE pipeline sees the quantized
    * representation: buckets hash the quantized vector (upcast once per
    * row, dropped before the join) and the verify is the quantized cosine
    * via the codegen'd [[Int8DotExpr]] — integer dot, no per-pair upcast,
    * bit-replayable in the oracle. Semantics: exact pair set under the
    * QUANTIZED metric; per-axis error vs true cosine is <= 1/127, so use
    * it when tau clears the duplicate/background gap by more than ~1e-2,
    * or re-rank survivors with full-precision vectors.
    */
  def lshCosinePairsQuantized(embeddings: DataFrame, idCol: String, vecCol: String,
      tau: Double, numTables: Int = 8, planesPerTable: Int = 12,
      seed: Long = 42L, dim: Option[Int] = None): DataFrame = {
    val d = resolveDim(embeddings, vecCol, dim, "lshCosinePairsQuantized")
    // buckets are computed BEFORE the persist (unlike the float path,
    // whose bucket input is the already-persisted verify vector): the
    // bucket input here is a per-row upcast the verify never needs, so
    // persisting buckets (numTables longs) instead of the upcast (dim
    // doubles) keeps the cache int8-sized and computes the upcast once
    val withBuckets = graft.Persisted.track(
      withQuantizedVec(embeddings, vecCol)
        .select(col(idCol).as("_nid"), col("qvec").as("_nq"),
          sqrt(SimExpressions.dotI8(col("qvec"), col("qvec")).cast("double"))
            .as("_nnorm"),
          col("qvec").cast("array<double>").as("_qd"))
        .select(
          Seq(col("_nid"), col("_nq"), col("_nnorm")) ++
            (0 until numTables).map { t =>
              val planes = hyperplanes(d, planesPerTable, seed + t)
              lshBucket(col("_qd"), planes).as(s"_b$t")
            }: _*)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val bucketed = withBuckets
      .select(col("_nid"), col("_nq"), col("_nnorm"),
        explode(array((0 until numTables).map(t =>
          struct(lit(t).as("tbl"), col(s"_b$t").as("bucket"))): _*)).as("tb"))
      .select(col("_nid"), col("_nq"), col("_nnorm"),
        col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    val a = bucketed.select(col("tbl"), col("bucket"), col("_nid").as("id_a"),
      col("_nq").as("_qa"), col("_nnorm").as("_na"))
    val b = bucketed.select(col("tbl").as("tbl_b"), col("bucket").as("bucket_b"),
      col("_nid").as("id_b"), col("_nq").as("_qb"), col("_nnorm").as("_nb"))
    val qcosExpr = SimExpressions.dotI8(col("_qa"), col("_qb")).cast("double") /
      (col("_na") * col("_nb"))
    a.join(b, col("tbl") === col("tbl_b") && col("bucket") === col("bucket_b") &&
        col("id_a") < col("id_b") && qcosExpr >= tau)
      .select(col("id_a"), col("id_b"), qcosExpr.as("qcosine"))
      .distinct()
  }

  /** IVF coarse quantizer: centroids are the k lowest-id vectors
    * (deterministic seeds — a real index would train them, e.g. k-means;
    * the partition/probe mechanics are identical), assignment is argmax
    * cosine with (sim desc, centroid id) tie-break. The cluster id is a
    * plain column, so probing is an equi-/semi-join — at scale the inverted
    * lists shard by cluster and only nProbe lists are scanned per query.
    */
  def ivfAssign(embeddings: DataFrame, idCol: String, vecCol: String,
      numClusters: Int): DataFrame = {
    // the cluster count AND a fingerprint of the centroid set ride as
    // column metadata (survives parquet, the shingle-artifact pattern)
    // so a staged assignment carries its own compatibility proof —
    // ivfTopK's precomputedAssignments hook require-checks the count
    // against the probe-time numClusters and the fingerprint against
    // the centroids of the PROBE-TIME embeddings: an assignment whose
    // centroid set no longer matches the live corpus would silently
    // select the wrong inverted lists (the count alone can't see that)
    val centLocal = ivfCentroids(embeddings, idCol, vecCol, numClusters)
      .collect() // numClusters rows — KBs
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("graft.ivf.numClusters", numClusters.toLong)
      .putLong("graft.ivf.centroidFp", centroidFingerprint(centLocal))
      .build()
    assignToCentroids(embeddings, idCol, vecCol,
      ivfCentroids(embeddings, idCol, vecCol, numClusters))
      .select(col(idCol), col(vecCol), col("cluster").as("cluster", meta))
  }

  /** Order-independent-of-collection, bit-exact fingerprint of a
    * centroid relation (FNV-1a over (id, raw vector bits), rows folded
    * in id order). The same (corpus prefix, numClusters) always hashes
    * the same; a corpus whose first `numClusters` vectors changed —
    * the exact drift that re-seeds [[ivfCentroids]] and invalidates a
    * staged assignment — always hashes differently.
    */
  private def centroidFingerprint(
      rows: Array[org.apache.spark.sql.Row]): Long = {
    var h = 0xcbf29ce484222325L
    def mix(x: Long): Unit = { h ^= x; h *= 0x100000001b3L }
    def idBits(v: Any): Long = v match {
      case l: Long => l
      case i: Int => i.toLong
      case other => other.hashCode.toLong // value-based, deterministic
    }
    rows.sortBy(r => idBits(r.get(0))).foreach { r =>
      mix(idBits(r.get(0)))
      r.getSeq[Any](1).foreach {
        case f: Float => mix(java.lang.Float.floatToRawIntBits(f).toLong)
        case d: Double => mix(java.lang.Double.doubleToRawLongBits(d))
        case other => mix(idBits(other))
      }
    }
    h
  }

  def ivfCentroids(embeddings: DataFrame, idCol: String, vecCol: String,
      numClusters: Int): DataFrame =
    embeddings.orderBy(col(idCol)).limit(numClusters)
      .select(col(idCol).as("_cid"), col(vecCol).as("_cvec"))

  /** ANN via IVF: rank the query's nProbe nearest clusters, score only
    * vectors assigned to them. Recall measured against [[bruteForceTopK]]
    * in the spec.
    *
    * `precomputedAssignments` is the staged-index deployment shape: the
    * [[ivfAssign]] relation built once (the index), persisted or written
    * to the cluster store, and probed by every query — per-query cost
    * drops to centroid ranking + nProbe inverted-list scans instead of a
    * full corpus re-assignment. The artifact is VALIDATED: exact
    * (idCol, vecCol, cluster) schema, [[ivfAssign]]'s numClusters stamp,
    * AND its centroid fingerprint must match the centroids of the
    * probe-time `embeddings` — a cluster-count mismatch or a stale
    * index (corpus drifted since the assignment was built, so the live
    * centroid set differs) silently probes the wrong lists otherwise.
    * The fingerprint check costs nothing extra: the staged path needs
    * the centroid set collected for ranking anyway (numClusters rows).
    * What the stamp CANNOT see: rows added since the build that do not
    * displace a centroid — they are simply absent from the staged
    * index; refreshing the assignment on ingest is the deployment's
    * freshness contract, as with any external index.
    */
  def ivfTopK(embeddings: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int, numClusters: Int = 16, nProbe: Int = 4,
      precomputedAssignments: Option[DataFrame] = None): DataFrame = {
    precomputedAssignments.foreach { pre =>
      require(pre.columns.toSeq == Seq(idCol, vecCol, "cluster"),
        s"precomputedAssignments must be the ivfAssign() relation with " +
          s"schema ($idCol, $vecCol, cluster); got (${pre.columns.mkString(", ")})")
      val md = pre.schema("cluster").metadata
      require(md.contains("graft.ivf.numClusters"),
        "precomputedAssignments carry no numClusters stamp — build them " +
          "with ivfAssign()")
      require(md.getLong("graft.ivf.numClusters") == numClusters.toLong,
        s"precomputedAssignments were built with numClusters=" +
          s"${md.getLong("graft.ivf.numClusters")}, but this probe was " +
          s"asked for numClusters=$numClusters")
    }
    val assigned = precomputedAssignments
      .getOrElse(ivfAssign(embeddings, idCol, vecCol, numClusters))
    val query = embeddings.filter(col(idCol) === queryId)
      .select(col(vecCol).as("_qvec"))
    val centRel = ivfCentroids(embeddings, idCol, vecCol, numClusters)
    val probedBase = precomputedAssignments match {
      case Some(pre) =>
        // staged path: the centroid set is collected (numClusters rows)
        // both to verify the artifact's fingerprint against the LIVE
        // corpus and to rank probes from a local relation — one tiny
        // sort-limit job, no second corpus scan
        val centLocal = centRel.collect()
        val fp = centroidFingerprint(centLocal)
        val md = pre.schema("cluster").metadata
        require(md.contains("graft.ivf.centroidFp"),
          "precomputedAssignments carry no centroid fingerprint — " +
            "rebuild them with ivfAssign()")
        require(md.getLong("graft.ivf.centroidFp") == fp,
          "precomputedAssignments are STALE: the live corpus's centroid " +
            "set no longer matches the one this assignment was built " +
            "against — probing it would select wrong inverted lists; " +
            "rebuild the assignment with ivfAssign()")
        embeddings.sparkSession.createDataFrame(
          java.util.Arrays.asList(centLocal: _*), centRel.schema)
      case None => centRel
    }
    val probed = probedBase
      .join(broadcast(query))
      .select(col("_cid"), cosine(col("_cvec"), col("_qvec")).as("_qsim"))
      .orderBy(col("_qsim").desc, col("_cid"))
      .limit(nProbe)
      .select(col("_cid").as("cluster"))
    assigned
      .join(broadcast(probed), Seq("cluster"), "left_semi")
      .join(broadcast(query))
      .filter(col(idCol) =!= queryId)
      .select(col(idCol), cosine(col(vecCol), col("_qvec")).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** ANN via sign-LSH: score only candidates sharing one of the probe
    * buckets, then exact-cosine rank. `probeHamming = 0` is classic
    * single-probe; `1` (default) is multi-probe — also scan the buckets
    * whose code differs from the query's by one bit (the most likely
    * boundary misses), which multiplies recall at (numPlanes+1)x candidate
    * cost, still a bucket equi-join (no scan of the full collection).
    * Recall < 1 by construction; measured against [[bruteForceTopK]] in
    * the spec.
    */
  def lshTopK(embeddings: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int, numPlanes: Int = 12,
      probeHamming: Int = 1, dim: Option[Int] = None): DataFrame = {
    val planes = hyperplanes(resolveDim(embeddings, vecCol, dim, "lshTopK"), numPlanes)
    val bucketed = embeddings.withColumn("_bucket", lshBucket(col(vecCol), planes))
    val probeCols = col("_bucket") +: (if (probeHamming >= 1)
      (0 until numPlanes).map(i => col("_bucket").bitwiseXOR(shiftleft(lit(1L), i)))
      else Seq.empty)
    val query = bucketed.filter(col(idCol) === queryId)
      .select(explode(array(probeCols: _*)).as("_qbucket"), col(vecCol).as("_qvec"))
    bucketed
      .join(broadcast(query), col("_bucket") === col("_qbucket"))
      .filter(col(idCol) =!= queryId)
      .select(col(idCol), cosine(col(vecCol), col("_qvec")).as("cosine"))
      // at probeHamming <= 1 every probe bucket is distinct, so a candidate
      // (one bucket per row) matches at most once and this distinct is a
      // no-op; it future-proofs probeHamming > 1, where multi-bit probes
      // could enumerate the same bucket twice
      .distinct()
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** Exact k-nearest-neighbors for EVERY row (all-pairs top-k): score all
    * pairs, rank per anchor by (cosine desc, neighbor id), keep the top k.
    *
    * This is the exact O(n^2) baseline — right for verification scale and
    * for modest collections (the pair generation broadcasts one side, the
    * ranking is one hash-partitioned window on the anchor id). At 100 TB,
    * bucket first (sign-LSH / IVF) so the pair join is an equi-join on
    * bucket, then run the same window per anchor — same downstream plan,
    * linear pair count.
    */
  def knnJoin(embeddings: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    // cast to array<double> and take the norm ONCE per row, not per pair:
    // the per-pair work drops to a single codegen'd dot product + divide
    // (dot/(sqrt(aa))*sqrt(bb)) op order is unchanged, so values stay
    // bit-identical to the per-pair formulation and the oracle)
    val prepped = embeddings.select(col(idCol).as("_pid"),
      col(vecCol).cast("array<double>").as("_pvec"))
      .withColumn("_pnorm", sqrt(SimExpressions.dot(col("_pvec"), col("_pvec"))))
    // spread the anchor side: the n·n pair loop below must not inherit the
    // 1-task layout of a small parquet scan (see spreadForPairLoop)
    val a = spreadForPairLoop(prepped).select(col("_pid").as("vec_id"),
      col("_pvec").as("_va"), col("_pnorm").as("_na"))
    val b = prepped.select(col("_pid").as("neighbor_id"),
      col("_pvec").as("_vb"), col("_pnorm").as("_nb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    a.join(b, col("vec_id") =!= col("neighbor_id"))
      .select(col("vec_id"), col("neighbor_id"),
        (SimExpressions.dot(col("_va"), col("_vb")) / (col("_na") * col("_nb")))
          .as("cosine"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  /** [[knnJoin]] with the ranking done by the [[graft.functions.TopKAggregator]]
    * UDAF instead of a window: map-side partial aggregation keeps only each
    * partition's local top-k per anchor, so the shuffle carries
    * O(partitions x n x k) rows instead of ALL n^2 scored pairs — the
    * shape to prefer once the pair count explodes. Output is identical to
    * [[knnJoin]] (same total order: cosine desc, neighbor id asc).
    */
  def knnJoinAgg(embeddings: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    import embeddings.sparkSession.implicits._
    val prepped = embeddings.select(col(idCol).as("_pid"),
      col(vecCol).cast("array<double>").as("_pvec"))
      .withColumn("_pnorm", sqrt(SimExpressions.dot(col("_pvec"), col("_pvec"))))
    // spread the anchor side (see spreadForPairLoop): the UDAF's map-side
    // top-k combine is per task, so parallelism here also bounds the
    // shuffle to tasks × anchors × k rows
    val a = spreadForPairLoop(prepped).select(col("_pid").as("vec_id"),
      col("_pvec").as("_va"), col("_pnorm").as("_na"))
    val b = prepped.select(col("_pid").as("neighbor_id"),
      col("_pvec").as("_vb"), col("_pnorm").as("_nb"))
    val scored = a.join(b, col("vec_id") =!= col("neighbor_id"))
      .select(col("vec_id").as("_1"),
        struct(col("neighbor_id").as("id"),
          (SimExpressions.dot(col("_va"), col("_vb")) / (col("_na") * col("_nb")))
            .as("score")).as("_2"))
      .as[(Long, graft.functions.ScoredId)]
    scored.groupByKey(_._1).mapValues(_._2)
      .agg(graft.functions.TopKAggregator.column(k).name("topk"))
      .toDF("vec_id", "topk")
      .select(col("vec_id"), posexplode(col("topk")))
      .select(col("vec_id"), col("col.id").as("neighbor_id"),
        col("col.score").as("cosine"), (col("pos") + 1).cast("int").as("rnk"))
  }

  /** The library-recommended all-rows kNN: the UDAF formulation
    * ([[knnJoinAgg]]) — map-side partial top-k keeps the shuffle at
    * O(partitions x n x k) rows. [[knnJoin]] (window) remains the
    * documented exact baseline it is benched against; [[knnJoinBucketed]]
    * is the approximate path once even the UDAF's pair generation is too
    * large.
    */
  def knn(embeddings: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame =
    knnJoinAgg(embeddings, idCol, vecCol, k)

  /** Bucketed (IVF) kNN join — the 100 TB path for all-rows top-k: score
    * each anchor only against the vectors assigned to its `nProbe`
    * nearest clusters, instead of all n.
    *
    *  - centroids: the `numClusters` lowest-id vectors (deterministic;
    *    swap in [[kmeansCentroids]] for trained ones);
    *  - assignment + probe ranking: argmax cosine with (sim desc, id)
    *    tie-breaks — fully deterministic, so the WHOLE approximate
    *    algorithm replays bit-for-bit in the SQL oracle (the gate checks
    *    the algorithm, not just "some top-k");
    *  - candidates: probes ⋈ assignments on the cluster id — an
    *    EQUI-join whose size is n x (nProbe/numClusters) x n, tunable,
    *    never the full n^2;
    *  - ranking: per-anchor top-k via the map-side-combining UDAF.
    *
    * With `nProbe = numClusters` the candidate set is the full collection
    * and the output equals [[knnJoin]] exactly (spec-checked, like
    * `x_ann_ivf`); with partial probes recall follows IVF geometry.
    * Anchors whose probed clusters hold fewer than k other vectors
    * return fewer than k neighbors.
    */
  def knnJoinBucketed(embeddings: DataFrame, idCol: String, vecCol: String,
      k: Int, numClusters: Int = 16, nProbe: Int = 4): DataFrame = {
    import embeddings.sparkSession.implicits._
    val cent = ivfCentroids(embeddings, idCol, vecCol, numClusters)
    // spread before persist: the cached layout otherwise inherits the
    // 1-task scan of a small parquet file and every downstream consumer
    // (centroid scoring, both vector re-joins) stays single-threaded
    // (see ops.Parallelism; no-op at production input sizes)
    val prepped = graft.Persisted.track(
      graft.ops.Parallelism.spreadIfNarrow(
        embeddings.select(col(idCol).as("_pid"),
          col(vecCol).cast("array<double>").as("_pvec"))
        .withColumn("_pnorm",
          sqrt(SimExpressions.dot(col("_pvec"), col("_pvec")))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // rank every (vector, centroid) cosine once; rn = 1 is the assignment,
    // rn <= nProbe are the anchor's probe clusters — one broadcast join
    // feeds both relations. The ranking runs on a SKINNY
    // (_pid, _cid, _csim) relation: the window shuffles n x numClusters
    // rows, and carrying the vector payload through it is the scale
    // killer (measured r4: n=100k, c=894 shuffled ~49 GB and took 704 s;
    // skinny-ranked + join-back runs the identical algorithm at a ~24 B
    // row). Vectors rejoin by _pid AFTER the nProbe cut, so the payload
    // is shuffled n + n x nProbe times, never n x numClusters.
    val ranked = graft.Persisted.track(prepped
      .join(broadcast(cent))
      .select(col("_pid"), col("_cid"),
        cosine(col("_pvec"), col("_cvec")).as("_csim"))
      .withColumn("_crn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("_pid")).orderBy(col("_csim").desc, col("_cid"))))
      .filter(col("_crn") <= math.max(nProbe, 1))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val assigned = ranked.filter(col("_crn") === 1)
      .join(prepped, "_pid")
      .select(col("_pid").as("neighbor_id"), col("_pvec").as("_vb"),
        col("_pnorm").as("_nb"), col("_cid").as("cluster"))
    val probes = ranked.filter(col("_crn") <= nProbe)
      .join(prepped, "_pid")
      .select(col("_pid").as("vec_id"), col("_pvec").as("_va"),
        col("_pnorm").as("_na"), col("_cid").as("cluster"))
    val scored = probes.join(assigned, Seq("cluster"))
      .filter(col("vec_id") =!= col("neighbor_id"))
      .select(col("vec_id").as("_1"),
        struct(col("neighbor_id").as("id"),
          (SimExpressions.dot(col("_va"), col("_vb")) / (col("_na") * col("_nb")))
            .as("score")).as("_2"))
      .as[(Long, graft.functions.ScoredId)]
    scored.groupByKey(_._1).mapValues(_._2)
      .agg(graft.functions.TopKAggregator.column(k).name("topk"))
      .toDF("vec_id", "topk")
      .select(col("vec_id"), posexplode(col("topk")))
      .select(col("vec_id"), col("col.id").as("neighbor_id"),
        col("col.score").as("cosine"), (col("pos") + 1).cast("int").as("rnk"))
  }

  /** [[knnJoinBucketed]] with int8-quantized candidate scoring and
    * full-precision re-rank — the recommended form at scale. The IVF
    * structure (centroids, assignment, probes) is IDENTICAL to the float
    * path, so the candidate set is unchanged; what changes is the payload
    * through the n x (nProbe/numClusters) x n candidate join: int8
    * vectors (4x smaller shuffle — the `lshCosinePairsQuantized` rule:
    * quantize BEFORE the shuffle) scored with the codegen'd integer dot.
    * Each anchor keeps its top-`rerank` candidates under the quantized
    * metric (default 2k), then ONLY those n x rerank skinny (anchor,
    * neighbor) rows rejoin the full-precision vectors for the exact
    * cosine and final (cosine desc, id) top-k.
    *
    * Recall: quantized cosine is within ~1/127 per axis of true cosine,
    * so the true top-k survives the top-2k quantized cut unless the
    * (k..2k) score band is narrower than the quantization error —
    * SimilaritySpec checks probe recall against [[bruteForceTopK]].
    * Every stage (quantization arithmetic, integer dot, both tie-broken
    * rankings) is bit-replayable in SQL, so the gated query hash-matches
    * a full-algorithm oracle.
    */
  def knnJoinBucketedQuantized(embeddings: DataFrame, idCol: String,
      vecCol: String, k: Int, numClusters: Int = 16, nProbe: Int = 4,
      rerank: Int = 0): DataFrame = {
    import embeddings.sparkSession.implicits._
    val r = if (rerank > 0) rerank else 2 * k
    val cent = ivfCentroids(embeddings, idCol, vecCol, numClusters)
    // spread before persist: the cached layout otherwise inherits the
    // 1-task scan of a small parquet file and every downstream consumer
    // (centroid scoring, both vector re-joins) stays single-threaded
    // (see ops.Parallelism; no-op at production input sizes)
    val prepped = graft.Persisted.track(
      graft.ops.Parallelism.spreadIfNarrow(
        embeddings.select(col(idCol).as("_pid"),
          col(vecCol).cast("array<double>").as("_pvec"))
        .withColumn("_pnorm",
          sqrt(SimExpressions.dot(col("_pvec"), col("_pvec")))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // int8 twin, built once: the only relation the candidate join carries
    val qprepped = graft.Persisted.track(
      withQuantizedVec(embeddings.select(col(idCol).as("_pid"),
        col(vecCol).as("_v")), "_v")
        .select(col("_pid"), col("qvec").as("_q"),
          sqrt(SimExpressions.dotI8(col("qvec"), col("qvec")).cast("double"))
            .as("_qn"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // skinny assignment ranking — same shape (and same scale rationale)
    // as knnJoinBucketed
    val ranked = graft.Persisted.track(prepped
      .join(broadcast(cent))
      .select(col("_pid"), col("_cid"),
        cosine(col("_pvec"), col("_cvec")).as("_csim"))
      .withColumn("_crn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("_pid")).orderBy(col("_csim").desc, col("_cid"))))
      .filter(col("_crn") <= math.max(nProbe, 1))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val assigned = ranked.filter(col("_crn") === 1)
      .join(qprepped, "_pid")
      .select(col("_pid").as("neighbor_id"), col("_q").as("_qb"),
        col("_qn").as("_nb"), col("_cid").as("cluster"))
    val probes = ranked.filter(col("_crn") <= nProbe)
      .join(qprepped, "_pid")
      .select(col("_pid").as("vec_id"), col("_q").as("_qa"),
        col("_qn").as("_na"), col("_cid").as("cluster"))
    val qscored = probes.join(assigned, Seq("cluster"))
      .filter(col("vec_id") =!= col("neighbor_id"))
      .select(col("vec_id").as("_1"),
        struct(col("neighbor_id").as("id"),
          (SimExpressions.dotI8(col("_qa"), col("_qb")).cast("double") /
            (col("_na") * col("_nb"))).as("score")).as("_2"))
      .as[(Long, graft.functions.ScoredId)]
    val topR = qscored.groupByKey(_._1).mapValues(_._2)
      .agg(graft.functions.TopKAggregator.column(r).name("topk"))
      .toDF("vec_id", "topk")
      .select(col("vec_id"), explode(col("topk")).as("cand"))
      .select(col("vec_id"), col("cand.id").as("neighbor_id"))
    // full-precision re-rank: n x rerank skinny rows rejoin the double
    // vectors by id — the payload never rides the candidate shuffle
    topR
      .join(prepped.select(col("_pid").as("vec_id"), col("_pvec").as("_va"),
        col("_pnorm").as("_ra")), "vec_id")
      .join(prepped.select(col("_pid").as("neighbor_id"), col("_pvec").as("_vb"),
        col("_pnorm").as("_rb")), "neighbor_id")
      .select(col("vec_id"), col("neighbor_id"),
        (SimExpressions.dot(col("_va"), col("_vb")) /
          (col("_ra") * col("_rb"))).as("cosine"))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("vec_id"))
          .orderBy(col("cosine").desc, col("neighbor_id"))).cast("int"))
      .filter(col("rnk") <= k)
      .select(col("vec_id"), col("neighbor_id"), col("cosine"), col("rnk"))
  }

  /** Distributed k-means for IVF centroid training: init = the k
    * lowest-id vectors, then `iterations` rounds of (argmax-cosine
    * assign, per-cluster element-wise mean). Wholly lazy — the loop
    * unrolls into one plan; each round is a broadcast join (k centroids)
    * plus two aggregations via posexplode, so it scales like a scan.
    * Empty clusters keep their previous centroid (left join + coalesce).
    *
    * Each mean folds over members SORTED BY ID, so index builds are
    * bit-reproducible at any partitioning (and SQL-replayable); an `avg`
    * would add in shuffle-arrival order and differ in the last ulp run
    * to run. The fold streams through a (cluster, dim, id) sort-shuffle
    * ([[orderedGroupMeans]]) instead of materializing each member list
    * — the collect_list form was a measured 64 GiB OOM at 10.4M
    * vectors, so training scales like an `avg` plus one sort. Still,
    * the coarse-quantizer PROTOCOL at 100 TB is to train on a bounded
    * deterministic sample and ship centroids as literals — training
    * cost should never be corpus-sized in the first place.
    */
  def kmeansCentroids(embeddings: DataFrame, idCol: String, vecCol: String,
      numClusters: Int, iterations: Int = 3): DataFrame = {
    var cent = ivfCentroids(embeddings, idCol, vecCol, numClusters)
    (0 until iterations).foreach { _ =>
      val assigned = assignToCentroids(embeddings, idCol, vecCol, cent)
      val perDim = assigned
        .select(col(idCol).as("_mid"), col("cluster"), posexplode(col(vecCol)))
      val means = orderedGroupMeans(perDim, Seq("cluster", "pos"),
          col("_mid"), col("col"))
        .groupBy(col("cluster"))
        .agg(array_sort(collect_list(struct(col("pos"), col("_m")))).as("_pm"))
        .select(col("cluster").as("_cid"),
          expr("transform(_pm, x -> CAST(x._m AS FLOAT))").as("_newvec"))
      cent = cent.join(means, Seq("_cid"), "left")
        .select(col("_cid"), coalesce(col("_newvec"), col("_cvec")).as("_cvec"))
    }
    cent
  }

  /** Argmax-cosine assignment of every vector to its nearest centroid
    * (tie-break: lowest centroid id). Broadcast join — centroids are tiny.
    */
  private def assignToCentroids(embeddings: DataFrame, idCol: String,
      vecCol: String, centroids: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("_csim").desc, col("_cid"))
    // skinny ranking: project the n x numClusters broadcast-join output to
    // (id, _cid, _csim) BEFORE the window shuffle and rejoin the vector
    // payload by id afterwards — carrying vectors through the ranking
    // shuffle is the scale killer (same r4-measured fix as
    // [[knnJoinBucketed]]); values and tie-breaks are unchanged.
    val assignedIds = embeddings
      .join(broadcast(centroids))
      .select(col(idCol), col("_cid"),
        cosine(col(vecCol), col("_cvec")).as("_csim"))
      .withColumn("_crn", row_number().over(w))
      .filter(col("_crn") === 1)
      .select(col(idCol), col("_cid").as("cluster"))
    embeddings.select(col(idCol), col(vecCol))
      .join(assignedIds, Seq(idCol))
      .select(col(idCol), col(vecCol), col("cluster"))
  }

  /** `precomputed` = a staged `(_cid, _cvec)` relation from
    * [[kmeansCentroids]] (same numClusters/iterations): centroid training
    * is the offline index-build step, probes read it. Without one the
    * centroids train here, persisted for the assignment and the probe.
    */
  private def centroidsOrTrain(embeddings: DataFrame, idCol: String,
      vecCol: String, numClusters: Int, trainIterations: Int,
      precomputed: Option[DataFrame]): DataFrame =
    precomputed.getOrElse(graft.Persisted.track(
      kmeansCentroids(embeddings, idCol, vecCol, numClusters, trainIterations)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)))

  /** IVF ANN with k-means-trained centroids: same probe mechanics as
    * [[ivfTopK]], but the coarse quantizer is trained, so inverted lists
    * are balanced and probes recall more of the true neighborhood.
    */
  def ivfTopKTrained(embeddings: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int, numClusters: Int = 16, nProbe: Int = 4,
      trainIterations: Int = 3,
      precomputedCentroids: Option[DataFrame] = None): DataFrame = {
    val cent = centroidsOrTrain(embeddings, idCol, vecCol, numClusters,
      trainIterations, precomputedCentroids)
    val assigned = assignToCentroids(embeddings, idCol, vecCol, cent)
    val query = embeddings.filter(col(idCol) === queryId)
      .select(col(vecCol).as("_qvec"))
    val probed = cent
      .join(broadcast(query))
      .select(col("_cid"), cosine(col("_cvec"), col("_qvec")).as("_qsim"))
      .orderBy(col("_qsim").desc, col("_cid"))
      .limit(nProbe)
      .select(col("_cid").as("cluster"))
    assigned
      .join(broadcast(probed), Seq("cluster"), "left_semi")
      .join(broadcast(query))
      .filter(col(idCol) =!= queryId)
      .select(col(idCol), cosine(col(vecCol), col("_qvec")).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023: cluster
    * the embedding space, prune within clusters): k-means-assign every
    * vector to a cluster, then drop any vector that has a smaller-id
    * neighbor at cosine >= `tau` in the SAME cluster. Returns the
    * survivors as `(idCol, cluster)`.
    *
    * The scale contract is the SemDeDup trade: the pair join is an
    * EQUI-join on the cluster id, so candidate volume is bounded by
    * cluster occupancy (~ (n/numClusters)^2 per cluster), never n^2 —
    * size `numClusters` ~ sqrt(n) like IVF. The accepted miss is a
    * near-dup pair that straddles a cluster boundary; raise
    * `trainIterations` (tighter clusters) or run the [[lshCosinePairs]]
    * family when cross-cluster recall matters more than the clustering.
    *
    * Survivorship is keep-lowest-id — deterministic and replayable (the
    * oracle states it as a NOT EXISTS anti-join). Unlike
    * [[graft.dedup.Dedup.duplicateGroupsAuto]] components, pruning is
    * pairwise-greedy: A~B and B~C with A!~C still drops both B and C
    * (B via A, C via B) — the SemDeDup paper's own policy space; the
    * components treatment is available by feeding these clusters' pairs
    * into the dedup group machinery.
    *
    * Training is bit-reproducible ([[kmeansCentroids]]), so the whole
    * pipeline is too (auditable dedup decisions — at 100 TB you want to
    * be able to answer "why was this document dropped").
    */
  def semanticDedup(embeddings: DataFrame, idCol: String, vecCol: String,
      tau: Double, numClusters: Int = 16, trainIterations: Int = 2,
      precomputedCentroids: Option[DataFrame] = None): DataFrame = {
    val cent = centroidsOrTrain(embeddings, idCol, vecCol, numClusters,
      trainIterations, precomputedCentroids)
    // vectors + norms computed once per row (identical doubles to the
    // per-pair formulation — the oracle's cosine formula is unchanged);
    // persisted because the relation feeds both sides of the cluster
    // self-join
    val normed = assignToCentroids(embeddings, idCol, vecCol, cent)
      .select(col("cluster"), col(idCol),
        col(vecCol).cast("array<double>").as("_nvec"),
        sqrt(SimExpressions.dot(col(vecCol), col(vecCol))).as("_nnorm"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.Persisted.track(normed)
    val a = normed.select(col("cluster").as("_ca"), col(idCol).as("_ida"),
      col("_nvec").as("_va"), col("_nnorm").as("_na"))
    val b = normed.select(col("cluster").as("_cb"), col(idCol).as("_idb"),
      col("_nvec").as("_vb"), col("_nnorm").as("_nb"))
    val cosineExpr =
      SimExpressions.dot(col("_va"), col("_vb")) / (col("_na") * col("_nb"))
    val dropped = a.join(b,
        col("_ca") === col("_cb") && col("_ida") < col("_idb") &&
          cosineExpr >= tau)
      .select(col("_idb").as(idCol))
      .distinct()
    normed.select(col(idCol), col("cluster"))
      .join(dropped, Seq(idCol), "left_anti")
  }

  /** D4-style prototypicality pruning (Tirumala et al. 2023 "D4";
    * prototype metric per Sorscher et al. 2022 "Beyond neural scaling
    * laws"): within each k-means cluster, rank vectors by cosine to
    * their cluster centroid and DROP the most prototypical
    * `dropPerMille`/1000 fraction — the examples nearest the cluster
    * center are the most redundant with the rest of their cluster, and
    * pruning them (after semantic dedup) is the published recipe for
    * web-scale training-data diversification. Survivors return as
    * `(idCol, cluster, proto_rank)` where `proto_rank` is the 1-based
    * within-cluster prototypicality rank (rank 1 = nearest the
    * centroid; survivors carry ranks strictly above the cut).
    *
    * The per-cluster cut is integer-exact: `ceil(size · dropPerMille /
    * 1000)` computed as `(size · dropPerMille + 999) div 1000` — no
    * float thresholds, so the pruning decision replays bit-for-bit.
    * Ties in cosine break by id and training is bit-reproducible (as
    * are staged centroids via `precomputedCentroids`), so the whole
    * decision is auditable: "why was this row dropped" has a
    * replayable answer, the same contract as [[semanticDedup]].
    *
    * Scale shape: the centroid relation broadcasts (KBs); assignment
    * ranks a SKINNY (id, cid, csim) projection of the n × numClusters
    * join (the [[knnJoinBucketed]] fix — vectors never ride the
    * ranking shuffle, and here they are never rejoined at all); the
    * prototypicality window partitions BY CLUSTER, so per-partition
    * sort work is bounded by cluster occupancy (~n/numClusters — size
    * numClusters ~ sqrt(n) like IVF), never a global sort.
    */
  def prototypesPrune(embeddings: DataFrame, idCol: String, vecCol: String,
      dropPerMille: Int, numClusters: Int = 16, trainIterations: Int = 2,
      precomputedCentroids: Option[DataFrame] = None): DataFrame = {
    require(dropPerMille >= 0 && dropPerMille <= 1000,
      s"dropPerMille must be in [0, 1000], got $dropPerMille")
    val cent = centroidsOrTrain(embeddings, idCol, vecCol, numClusters,
      trainIterations, precomputedCentroids)
    val aw = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("_csim").desc, col("_cid"))
    // argmax-cosine assignment, KEEPING the winning cosine — the
    // prototypicality score is exactly the assignment similarity
    val assigned = embeddings
      .join(broadcast(cent))
      .select(col(idCol), col("_cid"),
        cosine(col(vecCol), col("_cvec")).as("_csim"))
      .withColumn("_crn", row_number().over(aw))
      .filter(col("_crn") === 1)
      .select(col(idCol), col("_cid").as("cluster"), col("_csim").as("_psim"))
    val cw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster")).orderBy(col("_psim").desc, col(idCol))
    val cc = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster"))
    assigned
      .withColumn("proto_rank", row_number().over(cw).cast("long"))
      .withColumn("_csz", count(lit(1)).over(cc))
      .filter(col("proto_rank") >
        expr(s"(_csz * $dropPerMille + 999) DIV 1000"))
      .select(col(idCol), col("cluster"), col("proto_rank"))
  }

  /** DuckDB replay of [[prototypesPrune]]:
    * the [[trainedAssignSqlCtes]] prefix, the assignment cosine
    * recomputed against the final centroids (identical doubles — same
    * unrolled op sequence), the same (psim DESC, id) rank, and the same
    * integer ceil cut.
    */
  def prototypesPruneSql(dim: Int, dropPerMille: Int, numClusters: Int,
      trainIterations: Int): String = {
    val cosAC = cosineSql("a.embedding", "c.cvec", dim)
    trainedAssignSqlCtes(dim, numClusters, trainIterations).mkString(",\n") +
      s""",
         |simx AS (
         |  SELECT a.vec_id, a.cluster, $cosAC AS psim
         |  FROM assignF a JOIN cent$trainIterations c ON a.cluster = c.cid),
         |rk AS (
         |  SELECT vec_id, cluster,
         |    row_number() OVER (PARTITION BY cluster
         |      ORDER BY psim DESC, vec_id) AS proto_rank,
         |    count(*) OVER (PARTITION BY cluster) AS csz
         |  FROM simx)
         |SELECT vec_id, cluster, CAST(proto_rank AS BIGINT) AS proto_rank
         |FROM rk WHERE proto_rank > (csz * $dropPerMille + 999) // 1000""".stripMargin
  }

  /** Index-quality audit: recall@k of the IVF arm against exact brute
    * force, per query — the number a production ANN deployment monitors
    * (recall drifts when the data distribution moves away from the
    * index's cluster structure; an audit like this is how you notice
    * BEFORE retrieval quality degrades downstream training/serving).
    *
    * Queries are the deterministic sample `id % queryStep == 0`. Both
    * arms use the same (cosine desc, id) tie-break, and the intersection
    * count is pure integer arithmetic, so the gate replays bit-for-bit.
    * Output per query: (query_id, hits, k) — hits/k is the recall.
    *
    * Scale shape: the QUERY SET is the bounded side (pick `queryStep` so
    * it broadcasts) — the exact arm is then a broadcast pair scan + a
    * per-query rank window (WindowGroupLimit prunes map-side), i.e.
    * Q·n/partitions work per task, NOT all-pairs n²; the IVF arm is the
    * [[ivfTopK]] plan generalized to the query set (probed (query,
    * cluster) pairs broadcast against the assigned relation). At 100 TB
    * you audit with Q in the hundreds against the live index — the same
    * plan, still one corpus scan per audit.
    */
  def annRecallAudit(embeddings: DataFrame, idCol: String, vecCol: String,
      k: Int, queryStep: Long, numClusters: Int = 16,
      nProbe: Int = 4): DataFrame = {
    require(k >= 1 && queryStep >= 1, "k, queryStep >= 1")
    val W = org.apache.spark.sql.expressions.Window
    val queries = embeddings.filter(col(idCol) % queryStep === 0)
      .select(col(idCol).as("_qid"), col(vecCol).as("_qvec"))
    def topkPerQuery(cands: DataFrame): DataFrame = {
      val w = W.partitionBy(col("_qid"))
        .orderBy(col("_cos").desc, col(idCol))
      cands.filter(col(idCol) =!= col("_qid"))
        // explicit skinny projection BEFORE the rank window: Catalyst
        // does not prune the vector columns below this window on its
        // own, and carrying (vec, qvec) through the Q·n-row exchange is
        // the r4 payload-in-shuffle mistake all the ANN plans avoid
        .select(col("_qid"), col(idCol),
          cosine(col(vecCol), col("_qvec")).as("_cos"))
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") <= k)
        .select(col("_qid"), col(idCol))
    }
    val exact = topkPerQuery(embeddings.crossJoin(broadcast(queries)))
    // skinny probe ranking as well (numClusters x Q rows — bounded, but
    // keep the no-payload-in-window invariant uniform); qvec rejoins
    // from the broadcast query set after the nProbe cut
    val probed = ivfCentroids(embeddings, idCol, vecCol, numClusters)
      .crossJoin(broadcast(queries))
      .select(col("_cid"), col("_qid"),
        cosine(col("_cvec"), col("_qvec")).as("_qsim"))
      .withColumn("_qrn", row_number().over(
        W.partitionBy(col("_qid")).orderBy(col("_qsim").desc, col("_cid"))))
      .filter(col("_qrn") <= nProbe)
      .join(broadcast(queries), Seq("_qid"))
      .select(col("_cid").as("cluster"), col("_qid"), col("_qvec"))
    val approx = topkPerQuery(
      ivfAssign(embeddings, idCol, vecCol, numClusters)
        .join(broadcast(probed), Seq("cluster")))
    val hits = exact.join(approx, Seq("_qid", idCol))
      .groupBy(col("_qid")).agg(count(lit(1)).as("_h"))
    queries.select(col("_qid"))
      .join(hits, Seq("_qid"), "left")
      .select(col("_qid").as("query_id"),
        coalesce(col("_h"), lit(0L)).as("hits"),
        lit(k).cast("int").as("k"))
  }

  /** Index-quality audit for the QUANTIZED arm: recall@k of the
    * [[pqTopK]] pipeline (ADC top-R cut + exact re-rank — the arm
    * x_ann_pq_trained ships) against exact brute force, per query — the
    * production metric for a PQ index: quantization error shows up
    * exactly here, as true neighbors falling outside the ADC top-R.
    * Same protocol as [[annRecallAudit]]: deterministic query sample
    * `id % queryStep == 0`, (cosine desc, id) tie-breaks everywhere,
    * integer intersection counts — bit-replayable.
    *
    * Scale shape: the query set is the bounded broadcast side; the ADC
    * arm scans the SKINNY staged code relation (`precomputedCodes` —
    * the at-ingest artifact, ~m bytes/vector) and ranks through
    * per-query windows whose inputs Catalyst prunes to (qid, id, adc);
    * the exact arm is the same Q·n/partitions broadcast scan as
    * [[annRecallAudit]] — the audit's cost, not the index's.
    */
  def pqRecallAudit(embeddings: DataFrame, idCol: String, vecCol: String,
      k: Int, queryStep: Long, m: Int = 8, ksub: Int = 16, rerank: Int = 40,
      dim: Option[Int] = None,
      codebook: Option[Array[Array[Array[Double]]]] = None,
      precomputedCodes: Option[DataFrame] = None): DataFrame = {
    require(k >= 1 && queryStep >= 1 && rerank >= k,
      "k, queryStep >= 1 and rerank >= k")
    val d = resolveDim(embeddings, vecCol, dim, "pqRecallAudit")
    require(d % m == 0, s"pqRecallAudit: dim $d not divisible into $m subspaces")
    codebook.foreach(requireCodebookShape(_, m, ksub, d / m, "pqRecallAudit"))
    val cb = codebook.getOrElse(pqCodebook(embeddings, idCol, vecCol, m, ksub, d))
    precomputedCodes.foreach(requireCodesCompatible(_, cb, m, "pqRecallAudit"))
    val W = org.apache.spark.sql.expressions.Window
    val w = W.partitionBy(col("_qid")).orderBy(col("_cos").desc, col(idCol))
    val queries = embeddings.filter(col(idCol) % queryStep === 0)
      .select(col(idCol).as("_qid"), col(vecCol).as("_qvec"))
    // explicit skinny projections BEFORE each rank window (see
    // annRecallAudit.topkPerQuery): vectors/codes must not ride the
    // per-query ranking exchanges
    val exact = embeddings.crossJoin(broadcast(queries))
      .filter(col(idCol) =!= col("_qid"))
      .select(col("_qid"), col(idCol),
        cosine(col(vecCol), col("_qvec")).as("_cos"))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .select(col("_qid"), col(idCol))
    val coded = precomputedCodes.getOrElse(
      pqCodes(embeddings, idCol, vecCol, cb, m, d / m, ksub))
    val topR = coded.crossJoin(broadcast(queries))
      .filter(col(idCol) =!= col("_qid"))
      .select(col("_qid"), col(idCol),
        cosine(pqReconCol(cb, m), col("_qvec")).as("_cos"))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= rerank)
      .select(col("_qid"), col(idCol))
    val rer = topR
      .join(embeddings.select(col(idCol), col(vecCol)), Seq(idCol))
      .join(broadcast(queries), Seq("_qid"))
      .select(col("_qid"), col(idCol),
        cosine(col(vecCol), col("_qvec")).as("_cos"))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .select(col("_qid"), col(idCol))
    val hits = exact.join(rer, Seq("_qid", idCol))
      .groupBy(col("_qid")).agg(count(lit(1)).as("_h"))
    queries.select(col("_qid"))
      .join(hits, Seq("_qid"), "left")
      .select(col("_qid").as("query_id"),
        coalesce(col("_h"), lit(0L)).as("hits"),
        lit(k).cast("int").as("k"))
  }

  /** DuckDB twin of [[pqRecallAudit]] with the TRAINED codebook: the
    * [[pqTrainedSqlCore]] training/encode/recon prefix, then the exact
    * arm, the multi-query ADC top-R + re-rank, the same intersection
    * count.
    */
  def pqRecallAuditSql(dim: Int, k: Int, queryStep: Long, m: Int = 8,
      ksub: Int = 16, rerank: Int = 40, trainIterations: Int = 2): String = {
    val cosAQ = cosineSql("a.embedding", "q.qvec", dim)
    val cosRQ = cosineSql("r.rvec", "q.qvec", dim)
    val cosEQ = cosineSql("e.embedding", "q.qvec", dim)
    "WITH " + (pqTrainedReconCtes(dim, m, ksub, trainIterations) ++ Seq(
      s"""q AS MATERIALIZED (
         |  SELECT vec_id AS qid, embedding AS qvec FROM e
         |  WHERE vec_id % $queryStep = 0)""".stripMargin,
      s"""exact AS MATERIALIZED (
         |  SELECT qid, vec_id FROM (
         |    SELECT q.qid, a.vec_id,
         |      row_number() OVER (PARTITION BY q.qid
         |        ORDER BY $cosAQ DESC, a.vec_id) AS rn
         |    FROM e a CROSS JOIN q WHERE a.vec_id <> q.qid)
         |  WHERE rn <= $k)""".stripMargin,
      s"""topr AS MATERIALIZED (
         |  SELECT qid, vec_id FROM (
         |    SELECT q.qid, r.vec_id,
         |      row_number() OVER (PARTITION BY q.qid
         |        ORDER BY $cosRQ DESC, r.vec_id) AS rn
         |    FROM recon r CROSS JOIN q WHERE r.vec_id <> q.qid)
         |  WHERE rn <= $rerank)""".stripMargin,
      s"""rer AS MATERIALIZED (
         |  SELECT qid, vec_id FROM (
         |    SELECT t.qid, t.vec_id,
         |      row_number() OVER (PARTITION BY t.qid
         |        ORDER BY $cosEQ DESC, t.vec_id) AS rn
         |    FROM topr t JOIN e ON e.vec_id = t.vec_id
         |    JOIN q ON q.qid = t.qid)
         |  WHERE rn <= $k)""".stripMargin,
      s"""hits AS (
         |  SELECT x.qid, CAST(count(*) AS BIGINT) AS h
         |  FROM exact x JOIN rer a ON x.qid = a.qid AND x.vec_id = a.vec_id
         |  GROUP BY x.qid)""".stripMargin))
      .mkString(",\n") +
      s"""
         |SELECT q.qid AS query_id, COALESCE(h.h, CAST(0 AS BIGINT)) AS hits,
         |  CAST($k AS INTEGER) AS k
         |FROM q LEFT JOIN hits h ON q.qid = h.qid""".stripMargin
  }

  /** DuckDB twin of [[annRecallAudit]] over `embeddings`: the exact arm,
    * the [[ivfTopKSql]]-shaped assignment + probe + per-query rank, the
    * same intersection count.
    */
  def annRecallAuditSql(dim: Int, k: Int, queryStep: Long,
      numClusters: Int, nProbe: Int): String = {
    val cosEC = cosineSql("e.embedding", "c.cvec", dim)
    val cosCQ = cosineSql("c.cvec", "q.qvec", dim)
    val cosAQ = cosineSql("a.embedding", "q.qvec", dim)
    val cosAP = cosineSql("a.embedding", "p.qvec", dim)
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |q AS MATERIALIZED (
       |  SELECT vec_id AS qid, embedding AS qvec FROM e
       |  WHERE vec_id % $queryStep = 0),
       |exact AS MATERIALIZED (
       |  SELECT qid, vec_id FROM (
       |    SELECT q.qid, a.vec_id,
       |      row_number() OVER (PARTITION BY q.qid
       |        ORDER BY $cosAQ DESC, a.vec_id) AS rn
       |    FROM e a CROSS JOIN q WHERE a.vec_id <> q.qid)
       |  WHERE rn <= $k),
       |cent AS (SELECT vec_id AS cid, embedding AS cvec FROM e ORDER BY vec_id LIMIT $numClusters),
       |assigned AS MATERIALIZED (
       |  SELECT vec_id, embedding, cid AS cluster FROM (
       |    SELECT e.vec_id, e.embedding, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY $cosEC DESC, c.cid) AS crn
       |    FROM e CROSS JOIN cent c) WHERE crn = 1),
       |probed AS MATERIALIZED (
       |  SELECT cid AS cluster, qid, qvec FROM (
       |    SELECT q.qid, q.qvec, c.cid,
       |      row_number() OVER (PARTITION BY q.qid ORDER BY $cosCQ DESC, c.cid) AS qrn
       |    FROM cent c CROSS JOIN q) WHERE qrn <= $nProbe),
       |approx AS MATERIALIZED (
       |  SELECT qid, vec_id FROM (
       |    SELECT p.qid, a.vec_id,
       |      row_number() OVER (PARTITION BY p.qid
       |        ORDER BY $cosAP DESC, a.vec_id) AS rn
       |    FROM assigned a JOIN probed p USING (cluster)
       |    WHERE a.vec_id <> p.qid)
       |  WHERE rn <= $k),
       |hits AS (
       |  SELECT x.qid, CAST(count(*) AS BIGINT) AS h
       |  FROM exact x JOIN approx a ON x.qid = a.qid AND x.vec_id = a.vec_id
       |  GROUP BY x.qid)
       |SELECT q.qid AS query_id, COALESCE(h.h, CAST(0 AS BIGINT)) AS hits,
       |  CAST($k AS INTEGER) AS k
       |FROM q LEFT JOIN hits h ON q.qid = h.qid""".stripMargin
  }
}
