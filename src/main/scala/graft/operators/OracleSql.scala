package graft.operators

/** Oracle-SQL fragments shared by more than one operator object, and
  * the seed-42 hyperplanes both engines inline. A leaf (it references
  * no operator object), so building the oracle maps never makes one
  * operator singleton initialise another: concurrent first touches of
  * a Dedup/Similarity/TextAnalysis cycle deadlocked on class-init locks.
  */
private[graft] object OracleSql {
  /** Deterministic random hyperplanes (fixed seed — signatures must be
    * reproducible across runs and engines); `nPlanes` is the
    * corpus-size lever (see [[Similarity.pFor]]).
    */
  def makePlanes(nPlanes: Int, dim: Int = 64): Seq[Seq[Float]] = {
    val rng = new scala.util.Random(42)
    Seq.fill(nPlanes)(Seq.fill(dim)(rng.nextGaussian().toFloat))
  }

  /** The seed-42 hyperplanes as a DuckDB DOUBLE[] literal, and the
    * bucket id as DuckDB SQL — the planes are plain float constants, so
    * the "approximate" LSH operators are in fact fully deterministic and
    * can carry a hash-checked oracle. `f.toDouble.toString` is the
    * shortest decimal that round-trips the exact double value of each
    * float, and float→double widening is exact, so both engines see
    * bit-identical plane values.
    */
  private def planeSqlLit(p: Seq[Float]): String =
    p.map(_.toDouble.toString).mkString("[", ",", "]::DOUBLE[]")

  /** DuckDB twin of [[Similarity.bucketOf]] over column `c` (same sign-sum form). */
  def bucketSql(c: String, ps: Seq[Seq[Float]]): String =
    ps.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_dot_product(CAST($c AS DOUBLE[]), ${planeSqlLit(p)}) > 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** Corpus-size-adaptive DuckDB twin of `bucketOf(e, planesFor(n))`:
    * one CASE branch per plane count the oracle may need (p = 6..9
    * covers corpora to 16384 vectors; the operator itself is unbounded
    * — a bigger corpus needs the next branch added here, and the
    * verify gate fails loudly rather than silently diverging).
    */
  def adaptiveBucketSql(c: String, countSql: String): String = {
    val branches = (6 to 9).map { p =>
      s"WHEN ($countSql) <= ${32L << p} THEN ${bucketSql(c, makePlanes(p))}"
    }
    branches.mkString("(CASE ", " ", " END)")
  }

  /** THE ONE SQL COPY of the three-level assignment chain — every
    * adaptive oracle (ann_incremental_adaptive, ann_range_adaptive,
    * the adaptive walk prelude, dd_semantic) composes these CTEs, so
    * an assignment change reaches all of them at once, mirroring how
    * [[Similarity.threeLevelParts]] is the one Scala copy. `kSql` is the
    * aggregate expression computing k over the embeddings table
    * (annK's or semanticK's formula). Emits CTEs: params(k, kc, km),
    * rnks (id → rank, the RANK-prefix centroid selection mirroring
    * the Scala kernel's cutoffs), coarse, cellc (all vectors →
    * coarse cell), mid (⊂ cellc), cellm (all vectors → mid cell),
    * fine (⊂ cellm), asg (all vectors → fine cent_id). kc is the
    * exact integer cube-root ceiling (an integer range scan —
    * pow/cbrt rounding could desync the engines at an exact-cube k).
    */
  def threeLevelCtes(kSql: String): String =
    s"""params AS (
      |  SELECT k, kc, kc * kc AS km FROM (
      |    SELECT k,
      |      (SELECT min(i) FROM range(1, 2000) t(i) WHERE i*i*i >= k) AS kc
      |    FROM (SELECT $kSql AS k FROM embeddings) b) t),
      |rnks AS (
      |  SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rnk
      |  FROM embeddings),
      |coarse AS (
      |  SELECT e.vec_id AS coarse_id, CAST(e.embedding AS DOUBLE[]) AS co_emb
      |  FROM embeddings e JOIN rnks USING (vec_id)
      |  WHERE rnk <= (SELECT kc FROM params)),
      |cellc AS (
      |  SELECT vec_id, emb, coarse_id FROM (
      |    SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS emb, c.coarse_id,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.co_emb) DESC, c.coarse_id) AS rn
      |    FROM embeddings e CROSS JOIN coarse c) t WHERE rn = 1),
      |mid AS (
      |  SELECT vec_id AS mid_id, emb AS m_emb, coarse_id FROM cellc
      |  JOIN rnks USING (vec_id)
      |  WHERE rnk <= (SELECT km FROM params)),
      |cellm AS (
      |  SELECT vec_id, emb, mid_id FROM (
      |    SELECT l.vec_id, l.emb, m.mid_id,
      |      row_number() OVER (PARTITION BY l.vec_id
      |        ORDER BY list_cosine_similarity(l.emb, m.m_emb) DESC, m.mid_id) AS rn
      |    FROM cellc l JOIN mid m ON l.coarse_id = m.coarse_id) t WHERE rn = 1),
      |fine AS (
      |  SELECT vec_id AS cent_id, emb AS c_emb, mid_id FROM cellm
      |  JOIN rnks USING (vec_id)
      |  WHERE rnk <= (SELECT k FROM params)),
      |asg AS (
      |  SELECT vec_id, emb, cent_id FROM (
      |    SELECT l.vec_id, l.emb, f.cent_id,
      |      row_number() OVER (PARTITION BY l.vec_id
      |        ORDER BY list_cosine_similarity(l.emb, f.c_emb) DESC, f.cent_id) AS rn
      |    FROM cellm l JOIN fine f ON l.mid_id = f.mid_id) t WHERE rn = 1)""".stripMargin

  /** The BM25 derivation (query terms → per-(query, doc) integer
    * score_e6) as a DuckDB CTE chain — ONE definition shared by the
    * tx_bm25 oracle and ann_rrf_fusion's lexical-leg oracle, so a
    * scoring change (constants, rounding) can never silently desync
    * the fused operator's oracle. Terminates with the `scored` CTE;
    * interpolate after WITH and add the ranking on top.
    */
  val bm25ScoredCte: String =
    """terms AS (
      |  SELECT * FROM (VALUES
      |    (CAST(1 AS BIGINT), 'spark'), (CAST(1 AS BIGINT), 'join'),
      |    (CAST(2 AS BIGINT), 'window'), (CAST(2 AS BIGINT), 'agg'),
      |    (CAST(3 AS BIGINT), 'customer'), (CAST(3 AS BIGINT), 'order'),
      |    (CAST(3 AS BIGINT), 'query'),
      |    (CAST(4 AS BIGINT), 'hash'), (CAST(4 AS BIGINT), 'table')
      |  ) AS t(query_id, term)),
      |docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |dls AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM docs),
      |stats AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |         CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dls),
      |tf AS (
      |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, unnest(w) AS term FROM docs) k
      |  WHERE term IN (SELECT DISTINCT term FROM terms)
      |  GROUP BY 1, 2),
      |dfs AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
      |scored AS (
      |  SELECT t.query_id, f.doc_id,
      |    CAST(sum(CAST(floor((s.n_docs * 1000000 // d.df) *
      |      (f.tf * CAST(2.2 AS DOUBLE) /
      |       (f.tf + CAST(1.2 AS DOUBLE) * (0.25 + 0.75 * l.dl / s.avgdl)))
      |      + 0.5) AS BIGINT)) AS BIGINT) AS score_e6
      |  FROM tf f
      |  JOIN dfs d ON f.term = d.term
      |  JOIN terms t ON f.term = t.term
      |  JOIN dls l ON f.doc_id = l.doc_id
      |  CROSS JOIN stats s
      |  GROUP BY 1, 2)""".stripMargin

  /** The unrolled 5-iteration power-iteration CTE chain shared by every
    * oracle that re-derives the integer PageRank recurrence in SQL
    * (dd_graph_rank over the whole corpus, dd_pipeline over the
    * survivor node set, tx_textrank over the word graph), parameterized
    * over the deg/count/edge table names and the per-iteration CTE
    * naming, so an iteration-formula fix reaches all three.
    */
  def rankIterCtes(deg: String, nn: String, edges: String,
      name: Int => String): String =
    (1 to 5).map { k =>
      val p = name(k - 1)
      s"""${name(k)} AS (
         |  SELECT d.doc_id, d.deg,
         |    CAST(150000000 // $nn.n
         |      + (85 * (coalesce(inf.inflow, 0) + dang.dang // $nn.n)) // 100 AS BIGINT) AS score_e9
         |  FROM $deg d
         |  CROSS JOIN $nn
         |  CROSS JOIN (
         |    SELECT CAST(coalesce(sum(score_e9), 0) AS BIGINT) AS dang
         |    FROM $p WHERE deg = 0) dang
         |  LEFT JOIN (
         |    SELECT e.doc_b AS doc_id, CAST(sum(p.score_e9 // p.deg) AS BIGINT) AS inflow
         |    FROM $p p JOIN $edges e ON p.doc_id = e.doc_a
         |    WHERE p.deg > 0 GROUP BY 1) inf USING (doc_id))""".stripMargin
    }.mkString(",\n", ",\n", "")
}
