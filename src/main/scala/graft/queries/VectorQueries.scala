package graft.queries

import org.apache.spark.sql.functions._
import graft.{Stages, Tables}
import graft.operators.{Multimodal, Similarity}

/** Similarity-search (EX-06) and multimodal-column queries, with DuckDB
  * oracles built on the parallel-unnest flattening of the embedding
  * lists. Similarities are rounded to 6 decimals on both sides so the
  * (sub-1e-12) summation-order differences between engines cannot flip
  * the comparison. */
object VectorQueries {

  /** Flatten embeddings to (vec_id, i, v) — DuckDB parallel unnest. */
  private def flatCte(filter: String = ""): String =
    s"""flat AS (SELECT vec_id, unnest(generate_series(1, len(embedding))) AS i,
                       unnest(embedding)::DOUBLE AS v
                FROM embeddings $filter),
norms AS (SELECT vec_id, sqrt(sum(v*v)) AS nrm FROM flat GROUP BY vec_id)"""

  private[queries] val planesSql: String =
    """planes AS (
  SELECT p, d,
         ((CAST(('0x' || substr(md5(CAST(p AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 8)) AS BIGINT) % 2001) - 1000) / 1000.0 AS w
  FROM (SELECT unnest(generate_series(0, 7)) AS p) pp,
       (SELECT unnest(generate_series(0, 63)) AS d) dd
)"""

  /** DuckDB mirror of [[Similarity.knnGraph]] (ann12's exact chain:
    * 8-plane LSH buckets, 200 hot-bucket cap, within-bucket cosine,
    * top-5 rank) ending in CTE `edges(vec_id, nbr_id, cos_sim, rk)` —
    * shared by ann12 itself and the graph queries built on it. */
  private val knnEdgesCtes: String = s"""$planesSql,
fl AS (SELECT vec_id, unnest(generate_series(0, len(embedding)-1)) AS d,
              unnest(embedding)::DOUBLE AS v
       FROM embeddings),
bits AS (SELECT vec_id, p,
                CASE WHEN sum(v * w) >= 0 THEN CAST(1 AS BIGINT) << p ELSE 0 END AS bval
         FROM fl JOIN planes USING (d) GROUP BY vec_id, p),
bk0 AS (SELECT vec_id, CAST(sum(bval) AS BIGINT) AS bucket FROM bits GROUP BY vec_id),
bk AS (SELECT b0.vec_id, b0.bucket FROM bk0 b0
       JOIN (SELECT bucket FROM bk0 GROUP BY bucket
             HAVING count(*) <= 200) ok USING (bucket)),
${flatCte()},
prs AS (SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id
        FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
dots AS (SELECT p.vec_id, p.nbr_id, sum(f1.v * f2.v) AS dp
         FROM prs p
         JOIN flat f1 ON f1.vec_id = p.vec_id
         JOIN flat f2 ON f2.vec_id = p.nbr_id AND f1.i = f2.i
         GROUP BY 1, 2),
scored AS (SELECT d.vec_id, d.nbr_id, round(dp / (n1.nrm * n2.nrm), 6) AS cos_sim
           FROM dots d
           JOIN norms n1 ON n1.vec_id = d.vec_id
           JOIN norms n2 ON n2.vec_id = d.nbr_id),
edges AS (SELECT vec_id, nbr_id, cos_sim, rk FROM (
  SELECT vec_id, nbr_id, cos_sim,
         CAST(row_number() OVER (PARTITION BY vec_id
           ORDER BY cos_sim DESC, nbr_id ASC) AS BIGINT) AS rk
  FROM scored) t
WHERE rk <= 5)"""

  /** Unrolled PageRank iterations mirroring [[graft.operators.Graph
    * .pageRank]]: expects CTEs `edges(vec_id, nbr_id, …)`, `nodes`,
    * `deg(src, od)`, `nn(n)`, `r0(vec_id, r)`; emits `s1/r1 … s$iters/
    * r$iters` with the same per-iteration 9-decimal rounding. */
  private def pageRankIterCtes(iters: Int, damping: Double,
                               share: String = "r.r / d.od"): String =
    (1 to iters).map { i =>
      // CASTs pin DOUBLE arithmetic: a bare 0.85 literal is DECIMAL in
      // DuckDB and decimal division would truncate at a different scale
      // than Spark's float path.
      s"""s$i AS (SELECT e.nbr_id AS vec_id, sum($share) AS m
       FROM edges e
       JOIN r${i - 1} r ON r.vec_id = e.vec_id
       JOIN deg d ON d.src = e.vec_id
       GROUP BY 1),
r$i AS (SELECT n.vec_id,
               round((1 - CAST($damping AS DOUBLE)) / nn.n +
                     CAST($damping AS DOUBLE) * coalesce(s$i.m, 0), 9) AS r
        FROM nodes n CROSS JOIN nn
        LEFT JOIN s$i ON s$i.vec_id = n.vec_id)"""
    }.mkString(",\n")

  /** [[pageRankIterCtes]] variant for personalized PageRank: teleport
    * only at seeds (CTEs `sd(vec_id)` and `nt(n)` supply the seed set
    * and its size). */
  private def pprIterCtes(iters: Int, damping: Double): String =
    (1 to iters).map { i =>
      s"""s$i AS (SELECT e.nbr_id AS vec_id, sum(r.r / d.od) AS m
       FROM edges e
       JOIN r${i - 1} r ON r.vec_id = e.vec_id
       JOIN deg d ON d.src = e.vec_id
       GROUP BY 1),
r$i AS (SELECT n.vec_id,
               round(CASE WHEN sd.vec_id IS NOT NULL
                          THEN (1 - CAST($damping AS DOUBLE)) / nt.n
                          ELSE CAST(0 AS DOUBLE) END +
                     CAST($damping AS DOUBLE) * coalesce(s$i.m, 0), 9) AS r
        FROM nodes n CROSS JOIN nt
        LEFT JOIN sd ON sd.vec_id = n.vec_id
        LEFT JOIN s$i ON s$i.vec_id = n.vec_id)"""
    }.mkString(",\n")

  /** DuckDB mirror of [[Graph.labelPropagation]]'s synchronous rounds:
    * labeled in-neighbors vote, argmax with (count desc, label asc)
    * tie-break, seeds pinned via anti-join. Requires `edges` and `l0
    * (node, label)`; produces `l1..l$iters`. Integer votes + total
    * tie-break ⇒ bitwise cross-engine, no rounding contract. */
  private def lpIterCtes(iters: Int): String =
    (1 to iters).map { i =>
      s"""v$i AS (SELECT e.nbr_id AS node, l.label, count(*) AS c
       FROM edges e JOIN l${i - 1} l ON e.vec_id = l.node GROUP BY 1, 2),
w$i AS (SELECT node, label FROM (
         SELECT node, label,
                row_number() OVER (PARTITION BY node ORDER BY c DESC, label ASC) AS rn
         FROM v$i) t WHERE rn = 1),
l$i AS (SELECT node, label FROM l0
        UNION ALL
        SELECT w.node, w.label FROM w$i w
        WHERE NOT EXISTS (SELECT 1 FROM l0 s WHERE s.node = w.node))"""
    }.mkString(",\n")

  /** DuckDB mirror of [[Similarity.kmeansCentroids]] in flattened
    * (centroid_id, i, v) space: init = first `k` vectors rounded to 6
    * decimals, then per iteration a cosine argmax assignment and a
    * per-dimension mean rounded to 6 decimals (empty clusters keep the
    * previous centroid). Produces CTEs `c0..c$iters` and the final
    * assignment `as$iters` over the whole corpus. */
  private def kmeansCtes(k: Int, iters: Int): String = {
    // The iteration CTEs are MATERIALIZED: c$n / m$n / as$n are each
    // referenced 2-3 times, and DuckDB inlines plain CTEs per
    // reference — the unrolled chain re-evaluates its whole prefix
    // exponentially in the iteration count. Invisible at sf0.1 (fits
    // in memory); at the 10x stamp replica the re-evaluated
    // corpus-x-centroid joins spilled >28 GB per query and aborted.
    // Hash-neutral: MATERIALIZED only pins evaluate-once.
    val init = s"c0 AS MATERIALIZED (SELECT vec_id AS centroid_id, i, round(v, 6) AS v FROM flat WHERE vec_id < $k)"
    val blocks = (0 to iters).map { n =>
      val assign =
        s"""cd$n AS (SELECT f.vec_id, c.centroid_id, sum(f.v * c.v) AS dp
        FROM flat f JOIN c$n c ON f.i = c.i GROUP BY 1, 2),
cn$n AS (SELECT centroid_id, sqrt(sum(v*v)) AS nrm FROM c$n GROUP BY 1),
as$n AS MATERIALIZED (SELECT vec_id, centroid_id FROM (
          SELECT d.vec_id, d.centroid_id,
                 row_number() OVER (PARTITION BY d.vec_id
                   ORDER BY round(dp / (n1.nrm * cn.nrm), 6) DESC, d.centroid_id ASC) AS rn
          FROM cd$n d
          JOIN norms n1 ON n1.vec_id = d.vec_id
          JOIN cn$n cn ON cn.centroid_id = d.centroid_id) t
         WHERE rn = 1)"""
      if (n == iters) assign
      else assign + s""",
m$n AS MATERIALIZED (SELECT a.centroid_id, f.i, round(avg(f.v), 6) AS v
        FROM as$n a JOIN flat f ON f.vec_id = a.vec_id GROUP BY 1, 2),
c${n + 1} AS MATERIALIZED (SELECT centroid_id, i, v FROM m$n
           UNION ALL
           SELECT c.centroid_id, c.i, c.v FROM c$n c
           WHERE c.centroid_id NOT IN (SELECT centroid_id FROM m$n))"""
    }
    (init +: blocks).mkString(",\n")
  }

  /** DuckDB mirror of [[Similarity.pqTopKTrained]]'s full chain (all
    * CTE names prefixed `t_`): per-subspace L2 Lloyd's from the
    * first-`k`-vectors init (`iters` rounds, means and distances
    * rounded to 6 decimals, empty clusters carried), L2 encode with
    * the final codebook, then ADC scoring for queries `vec_id < nq`.
    * Requires `fl0 (vec_id, d, v)`; ends at `t_top (query_id, vec_id,
    * pq_sim, rk)`. The d2 expression mirrors the Spark side's
    * three-dot form term-for-term (a fused Σ(v−c)² associates
    * differently in float and can flip the 6th decimal). */
  private def pqTrainedChain(subDim: Int, k: Int, iters: Int, nq: Int): String = {
    // t_sv / t_pc$n / t_pa$n / t_pm$n are MATERIALIZED for the same
    // reason as kmeansCtes: each is referenced 2-6 times and plain-CTE
    // inlining re-evaluates the unrolled Lloyd's prefix exponentially —
    // the 10x stamp replica's PQ oracles spilled >28 GB and died
    // before this pin. Hash-neutral.
    val init = s"""t_sv AS MATERIALIZED (SELECT vec_id, d // $subDim AS sub, d % $subDim AS sd, v FROM fl0),
t_pc0 AS MATERIALIZED (SELECT sub, vec_id AS centroid_id, sd, round(v, 6) AS cv FROM t_sv WHERE vec_id < $k)"""
    val blocks = (0 to iters).map { n =>
      val assign =
        s"""t_pd$n AS (SELECT s.vec_id, s.sub, c.centroid_id,
           round(sum(s.v * s.v) - 2 * sum(s.v * c.cv) + sum(c.cv * c.cv), 6) AS d2
         FROM t_sv s JOIN t_pc$n c ON c.sub = s.sub AND c.sd = s.sd
         GROUP BY 1, 2, 3),
t_pa$n AS MATERIALIZED (SELECT vec_id, sub, centroid_id FROM (
             SELECT vec_id, sub, centroid_id,
                    row_number() OVER (PARTITION BY vec_id, sub
                      ORDER BY d2 ASC, centroid_id ASC) AS rn
             FROM t_pd$n) t WHERE rn = 1)"""
      if (n == iters) assign
      else assign + s""",
t_pm$n AS MATERIALIZED (SELECT a.sub, a.centroid_id, s.sd, round(avg(s.v), 6) AS cv
           FROM t_pa$n a JOIN t_sv s ON s.vec_id = a.vec_id AND s.sub = a.sub
           GROUP BY 1, 2, 3),
t_pc${n + 1} AS MATERIALIZED (SELECT sub, centroid_id, sd, cv FROM t_pm$n
             UNION ALL
             SELECT c.sub, c.centroid_id, c.sd, c.cv FROM t_pc$n c
             WHERE NOT EXISTS (SELECT 1 FROM t_pm$n mm
                               WHERE mm.sub = c.sub AND mm.centroid_id = c.centroid_id))"""
    }
    val adc = s"""t_cbn AS (SELECT sub, centroid_id, sum(cv*cv) AS n2 FROM t_pc$iters GROUP BY 1, 2),
t_rec AS (SELECT co.vec_id, sum(cn.n2) AS rn2
          FROM t_pa$iters co JOIN t_cbn cn ON cn.sub = co.sub AND cn.centroid_id = co.centroid_id
          GROUP BY 1),
t_lut AS (SELECT s.vec_id AS query_id, s.sub, c.centroid_id, sum(s.v * c.cv) AS dp
          FROM t_sv s JOIN t_pc$iters c ON c.sub = s.sub AND c.sd = s.sd
          WHERE s.vec_id < $nq GROUP BY 1, 2, 3),
t_qn AS (SELECT vec_id AS query_id, sqrt(sum(v*v)) AS nrm FROM fl0 WHERE vec_id < $nq GROUP BY 1),
t_sc AS (SELECT l.query_id, co.vec_id, sum(l.dp) AS adp
         FROM t_pa$iters co JOIN t_lut l ON l.sub = co.sub AND l.centroid_id = co.centroid_id
         GROUP BY 1, 2),
t_scored AS (SELECT s.query_id, s.vec_id,
                    round(s.adp / (q.nrm * sqrt(r.rn2)), 6) AS pq_sim
             FROM t_sc s JOIN t_qn q ON q.query_id = s.query_id
             JOIN t_rec r ON r.vec_id = s.vec_id),
t_top AS (SELECT query_id, vec_id, pq_sim,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY pq_sim DESC, vec_id ASC) AS BIGINT) AS rk
          FROM t_scored)"""
    (init +: blocks).mkString(",\n") + ",\n" + adc
  }

  /** Shared oracle for the IVF pair: ann04 (in-flight inverted lists)
    * and ann04b (stored centroid-partitioned layout) must return
    * identical rows — the storage layout may not change results. */
  private val ann04Oracle: String = s"""WITH ${flatCte()},
${kmeansCtes(16, 2)},
prs AS (SELECT q.vec_id AS query_id, c.vec_id AS vec_id
        FROM as2 q JOIN as2 c ON q.centroid_id = c.centroid_id
        WHERE q.vec_id < 30),
dots AS (SELECT p.query_id, p.vec_id, sum(f1.v * f2.v) AS dp
         FROM prs p
         JOIN flat f1 ON f1.vec_id = p.query_id
         JOIN flat f2 ON f2.vec_id = p.vec_id AND f1.i = f2.i
         GROUP BY 1, 2),
scored AS (SELECT d.query_id, d.vec_id, round(dp / (n1.nrm * n2.nrm), 6) AS cos_sim
           FROM dots d
           JOIN norms n1 ON n1.vec_id = d.query_id
           JOIN norms n2 ON n2.vec_id = d.vec_id)
SELECT * FROM (
  SELECT query_id, vec_id, cos_sim,
         CAST(row_number() OVER (PARTITION BY query_id
           ORDER BY cos_sim DESC, vec_id ASC) AS BIGINT) AS rk
  FROM scored) t
WHERE rk <= 10"""

  /** Shared oracle for the nprobe=2 IVF pair: ann05 (in-flight) and
    * ann05b (stored layout) — query-side multi-probe ranks from the
    * k-means chain's own cd2/cn2 CTEs. */
  private val ann05Oracle: String = s"""WITH ${flatCte()},
${kmeansCtes(16, 2)},
qasgn AS (SELECT vec_id, centroid_id FROM (
            SELECT d.vec_id, d.centroid_id,
                   row_number() OVER (PARTITION BY d.vec_id
                     ORDER BY round(dp / (n1.nrm * cn.nrm), 6) DESC, d.centroid_id ASC) AS rn
            FROM cd2 d
            JOIN norms n1 ON n1.vec_id = d.vec_id
            JOIN cn2 cn ON cn.centroid_id = d.centroid_id) t
          WHERE rn <= 2),
prs AS (SELECT q.vec_id AS query_id, c.vec_id AS vec_id
        FROM qasgn q JOIN as2 c ON q.centroid_id = c.centroid_id
        WHERE q.vec_id < 30),
dots AS (SELECT p.query_id, p.vec_id, sum(f1.v * f2.v) AS dp
         FROM prs p
         JOIN flat f1 ON f1.vec_id = p.query_id
         JOIN flat f2 ON f2.vec_id = p.vec_id AND f1.i = f2.i
         GROUP BY 1, 2),
scored AS (SELECT d.query_id, d.vec_id, round(dp / (n1.nrm * n2.nrm), 6) AS cos_sim
           FROM dots d
           JOIN norms n1 ON n1.vec_id = d.query_id
           JOIN norms n2 ON n2.vec_id = d.vec_id)
SELECT * FROM (
  SELECT query_id, vec_id, cos_sim,
         CAST(row_number() OVER (PARTITION BY query_id
           ORDER BY cos_sim DESC, vec_id ASC) AS BIGINT) AS rk
  FROM scored) t
WHERE rk <= 10"""

  /** Shared oracle for the bucketed-top-k pair: ann03 (in-flight
    * buckets) and ann03b (stored bucket-partitioned layout) must return
    * identical rows — the storage layout may not change results. */
  private val ann03Oracle: String = s"""WITH $planesSql,
fl AS (SELECT vec_id, unnest(generate_series(0, len(embedding)-1)) AS d,
              unnest(embedding)::DOUBLE AS v
       FROM embeddings),
bits AS (SELECT vec_id, p,
                CASE WHEN sum(v * w) >= 0 THEN CAST(1 AS BIGINT) << p ELSE 0 END AS bval
         FROM fl JOIN planes USING (d) GROUP BY vec_id, p),
bk AS (SELECT vec_id, CAST(sum(bval) AS BIGINT) AS bucket FROM bits GROUP BY vec_id),
${flatCte()},
prs AS (SELECT q.vec_id AS query_id, c.vec_id AS vec_id
        FROM bk q JOIN bk c ON q.bucket = c.bucket
        WHERE q.vec_id < 50),
dots AS (SELECT p.query_id, p.vec_id, sum(f1.v * f2.v) AS dp
         FROM prs p
         JOIN flat f1 ON f1.vec_id = p.query_id
         JOIN flat f2 ON f2.vec_id = p.vec_id AND f1.i = f2.i
         GROUP BY 1, 2),
scored AS (SELECT d.query_id, d.vec_id, round(dp / (n1.nrm * n2.nrm), 6) AS cos_sim
           FROM dots d
           JOIN norms n1 ON n1.vec_id = d.query_id
           JOIN norms n2 ON n2.vec_id = d.vec_id)
SELECT * FROM (
  SELECT query_id, vec_id, cos_sim,
         CAST(row_number() OVER (PARTITION BY query_id
           ORDER BY cos_sim DESC, vec_id ASC) AS BIGINT) AS rk
  FROM scored) t
WHERE rk <= 10"""

  /** Oracle for the stored multi-probe form (ann03e, nprobe=4): probe 0
    * is the query's own bucket, probes 1..3 XOR-flip the bit of the
    * three weakest-|margin| hyperplanes (margin rounded to 6 decimals,
    * plane-id tiebreak) — term-for-term the probe-set definition in
    * [[graft.operators.Similarity.lshProbeBuckets]]. A corpus vector
    * lives in exactly one bucket, so the probe union never double-scores
    * a candidate and needs no DISTINCT. */
  private val ann03eOracle: String = s"""WITH $planesSql,
fl AS (SELECT vec_id, unnest(generate_series(0, len(embedding)-1)) AS d,
              unnest(embedding)::DOUBLE AS v
       FROM embeddings),
mg AS (SELECT vec_id, p, sum(v * w) AS dp
       FROM fl JOIN planes USING (d) GROUP BY vec_id, p),
bk AS (SELECT vec_id,
              CAST(sum(CASE WHEN dp >= 0 THEN CAST(1 AS BIGINT) << p ELSE 0 END) AS BIGINT) AS bucket
       FROM mg GROUP BY vec_id),
qm AS (SELECT vec_id, p,
              row_number() OVER (PARTITION BY vec_id
                ORDER BY round(abs(dp), 6) ASC, p ASC) AS rn
       FROM mg WHERE vec_id < 50),
probes AS (SELECT vec_id, bucket AS pb FROM bk WHERE vec_id < 50
           UNION ALL
           SELECT q.vec_id, xor(b.bucket, CAST(1 AS BIGINT) << q.p) AS pb
           FROM qm q JOIN bk b USING (vec_id) WHERE q.rn <= 3),
${flatCte()},
prs AS (SELECT p.vec_id AS query_id, c.vec_id AS vec_id
        FROM probes p JOIN bk c ON c.bucket = p.pb),
dots AS (SELECT p.query_id, p.vec_id, sum(f1.v * f2.v) AS dp
         FROM prs p
         JOIN flat f1 ON f1.vec_id = p.query_id
         JOIN flat f2 ON f2.vec_id = p.vec_id AND f1.i = f2.i
         GROUP BY 1, 2),
scored AS (SELECT d.query_id, d.vec_id, round(dp / (n1.nrm * n2.nrm), 6) AS cos_sim
           FROM dots d
           JOIN norms n1 ON n1.vec_id = d.query_id
           JOIN norms n2 ON n2.vec_id = d.vec_id)
SELECT * FROM (
  SELECT query_id, vec_id, cos_sim,
         CAST(row_number() OVER (PARTITION BY query_id
           ORDER BY cos_sim DESC, vec_id ASC) AS BIGINT) AS rk
  FROM scored) t
WHERE rk <= 10"""

  /** Shared oracle for ann10 (in-flight IVF-PQ) and ann10b (stored
    * layout) — the storage layout may not change results. */
  private val ann10Oracle: String = s"""WITH ${flatCte()},
${kmeansCtes(16, 2)},
fl0 AS (SELECT vec_id, unnest(generate_series(0, len(embedding)-1)) AS d,
               unnest(embedding)::DOUBLE AS v
        FROM embeddings),
${pqTrainedChain(4, 64, 2, 30)},
qas AS (SELECT vec_id, centroid_id FROM (
          SELECT d.vec_id, d.centroid_id,
                 row_number() OVER (PARTITION BY d.vec_id
                   ORDER BY round(dp / (n1.nrm * cn.nrm), 6) DESC, d.centroid_id ASC) AS rn
          FROM cd2 d
          JOIN norms n1 ON n1.vec_id = d.vec_id
          JOIN cn2 cn ON cn.centroid_id = d.centroid_id) t
        WHERE rn = 1),
cand AS (SELECT q.vec_id AS query_id, c.vec_id AS vec_id
         FROM qas q JOIN as2 c USING (centroid_id)
         WHERE q.vec_id < 30)
SELECT query_id, vec_id, pq_sim, rk FROM (
  SELECT s.query_id, s.vec_id, s.pq_sim,
         CAST(row_number() OVER (PARTITION BY s.query_id
           ORDER BY s.pq_sim DESC, s.vec_id ASC) AS BIGINT) AS rk
  FROM t_scored s
  JOIN cand c ON c.query_id = s.query_id AND c.vec_id = s.vec_id) t
WHERE rk <= 10"""

  /** ann11 oracle: the ann10 chain proposes the ADC top-40, then the
    * exact cosine re-ranks ONLY those candidates (refine). */
  private val ann11Oracle: String = s"""WITH ${flatCte()},
${kmeansCtes(16, 2)},
fl0 AS (SELECT vec_id, unnest(generate_series(0, len(embedding)-1)) AS d,
               unnest(embedding)::DOUBLE AS v
        FROM embeddings),
${pqTrainedChain(4, 64, 2, 30)},
qas AS (SELECT vec_id, centroid_id FROM (
          SELECT d.vec_id, d.centroid_id,
                 row_number() OVER (PARTITION BY d.vec_id
                   ORDER BY round(dp / (n1.nrm * cn.nrm), 6) DESC, d.centroid_id ASC) AS rn
          FROM cd2 d
          JOIN norms n1 ON n1.vec_id = d.vec_id
          JOIN cn2 cn ON cn.centroid_id = d.centroid_id) t
        WHERE rn = 1),
cand AS (SELECT q.vec_id AS query_id, c.vec_id AS vec_id
         FROM qas q JOIN as2 c USING (centroid_id)
         WHERE q.vec_id < 30),
adc40 AS (SELECT query_id, vec_id FROM (
            SELECT s.query_id, s.vec_id,
                   row_number() OVER (PARTITION BY s.query_id
                     ORDER BY s.pq_sim DESC, s.vec_id ASC) AS rk
            FROM t_scored s
            JOIN cand c ON c.query_id = s.query_id AND c.vec_id = s.vec_id) t
          WHERE rk <= 40),
r_dots AS (SELECT p.query_id, p.vec_id, sum(f1.v * f2.v) AS dp
           FROM adc40 p
           JOIN flat f1 ON f1.vec_id = p.query_id
           JOIN flat f2 ON f2.vec_id = p.vec_id AND f1.i = f2.i
           GROUP BY 1, 2),
r_scored AS (SELECT d.query_id, d.vec_id, round(dp / (n1.nrm * n2.nrm), 6) AS cos_sim
             FROM r_dots d
             JOIN norms n1 ON n1.vec_id = d.query_id
             JOIN norms n2 ON n2.vec_id = d.vec_id)
SELECT query_id, vec_id, cos_sim, rk FROM (
  SELECT query_id, vec_id, cos_sim,
         CAST(row_number() OVER (PARTITION BY query_id
           ORDER BY cos_sim DESC, vec_id ASC) AS BIGINT) AS rk
  FROM r_scored) t
WHERE rk <= 10"""

  /** ann14's oracle — shared verbatim by ann14b_graph_beam_stored (the
    * stored layout is an execution detail; results are identical). */
  private def ann14OracleSql: String = s"""WITH $knnEdgesCtes,
sds AS (SELECT min(vec_id) AS vec_id FROM bk GROUP BY bucket),
qs AS (SELECT vec_id AS query_id FROM embeddings WHERE vec_id < 5),
c0 AS (SELECT q.query_id, s.vec_id FROM qs q CROSS JOIN sds s),
${beamRoundCtes(rounds = 3, beamWidth = 8)}
SELECT query_id, vec_id, cos_sim, rk FROM (
  SELECT query_id, vec_id, cos_sim,
         CAST(row_number() OVER (PARTITION BY query_id
           ORDER BY cos_sim DESC, vec_id ASC) AS BIGINT) AS rk
  FROM vis) t
WHERE rk <= 10"""

  /** Unrolled beam-search rounds for ann14, mirroring
    * [[Similarity.beamSearchTopK]]: expects CTEs `edges`, `flat`,
    * `norms`, `c0` (seed candidates per query); emits `s0/b0 …
    * s$rounds/b$rounds` plus the final `vis` visited-set union. The
    * scoring CTE is the exact pair-cosine of the candidate set; UNION
    * (not UNION ALL) mirrors the Spark side's distinct(). `prefix`
    * renames the emitted c/s/b/vis CTEs so the chain can embed in a
    * WITH that already uses those names (ann07's k-means c0/c1/c2). */
  private def beamRoundCtes(rounds: Int, beamWidth: Int,
                            prefix: String = ""): String = {
    def n(base: String): String = s"$prefix$base"
    def scoreCte(si: String, cands: String): String =
      s"""$si AS (SELECT p.query_id, p.vec_id,
       round(sum(f1.v * f2.v) / (n1.nrm * n2.nrm), 6) AS cos_sim
     FROM $cands p
     JOIN flat f1 ON f1.vec_id = p.query_id
     JOIN flat f2 ON f2.vec_id = p.vec_id AND f2.i = f1.i
     JOIN norms n1 ON n1.vec_id = p.query_id
     JOIN norms n2 ON n2.vec_id = p.vec_id
     GROUP BY p.query_id, p.vec_id, n1.nrm, n2.nrm)"""
    def topCte(bi: String, si: String): String =
      s"""$bi AS (SELECT query_id, vec_id FROM (
       SELECT query_id, vec_id,
              row_number() OVER (PARTITION BY query_id
                ORDER BY cos_sim DESC, vec_id ASC) AS rk
       FROM $si) t WHERE rk <= $beamWidth)"""
    val base = Seq(scoreCte(n("s0"), n("c0")), topCte(n("b0"), n("s0")))
    val iter = (1 to rounds).flatMap { i =>
      Seq(
        s"""${n(s"c$i")} AS (SELECT query_id, vec_id FROM ${n(s"b${i - 1}")}
       UNION
       SELECT b.query_id, e.nbr_id AS vec_id
       FROM ${n(s"b${i - 1}")} b JOIN edges e ON e.vec_id = b.vec_id)""",
        scoreCte(n(s"s$i"), n(s"c$i")),
        topCte(n(s"b$i"), n(s"s$i")))
    }
    val vis = s"${n("vis")} AS (" +
      (0 to rounds).map(i => s"SELECT query_id, vec_id, cos_sim FROM ${n(s"s$i")}")
        .mkString("\n  UNION\n  ") + ")"
    (base ++ iter :+ vis).mkString(",\n")
  }

  /** mm03/mm04 shared oracle fragment: byte-histogram features of the
    * fake media payloads, as a `feat(vec_id, embedding)` CTE chain. */
  private val featCtes: String = {
    val hexDigits = "0123456789ABCDEF"
    val hist = (0 until 16)
      .map(k => s"sum(CASE WHEN hd = '${hexDigits(k)}' THEN 1 ELSE 0 END) AS c$k")
      .mkString(", ")
    val featList = (0 until 16)
      .map(k => s"round(CAST(CAST(CAST(coalesce(h.c$k, 0) AS DOUBLE) / ch.n AS REAL) AS DOUBLE), 6)")
      .mkString(", ")
    s"""chars AS (SELECT doc_id, strlen(text) AS sl,
                  greatest(CAST(strlen(text) AS BIGINT), 1) AS n,
                  hex(encode(text)) AS hx
           FROM documents),
nibs AS (SELECT doc_id, substr(hx, 2 * i - 1, 1) AS hd
         FROM (SELECT doc_id, hx, unnest(generate_series(1, sl)) AS i FROM chars) t),
hist AS (SELECT doc_id, $hist FROM nibs GROUP BY doc_id),
feat AS (SELECT ch.doc_id AS vec_id, [$featList] AS embedding
         FROM chars ch LEFT JOIN hist h ON h.doc_id = ch.doc_id)"""
  }

  val all: Seq[Q] = Seq(

    // EX-06 baseline: exact brute-force cosine top-10 for 5 query vectors.
    Q("ann01_cosine_topk",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), 10)
      },
      Some(s"""WITH ${flatCte()},
dots AS (SELECT f1.vec_id AS query_id, f2.vec_id AS vec_id, sum(f1.v * f2.v) AS dp
         FROM flat f1 JOIN flat f2 ON f1.i = f2.i
         WHERE f1.vec_id < 5
         GROUP BY 1, 2),
scored AS (SELECT d.query_id, d.vec_id, round(dp / (n1.nrm * n2.nrm), 6) AS cos_sim
           FROM dots d
           JOIN norms n1 ON n1.vec_id = d.query_id
           JOIN norms n2 ON n2.vec_id = d.vec_id)
SELECT * FROM (
  SELECT query_id, vec_id, cos_sim,
         CAST(row_number() OVER (PARTITION BY query_id
           ORDER BY cos_sim DESC, vec_id ASC) AS BIGINT) AS rk
  FROM scored) t
WHERE rk <= 10""")),

    // EX-06 scale path, stage 1: deterministic hyperplane LSH buckets.
    Q("ann02_lsh_buckets",
      (s, d) => Tables.embeddings(s, d).select(
        col("vec_id"),
        Similarity.lshBucket(col("embedding"), 8, 64).as("bucket")),
      Some(s"""WITH $planesSql,
fl AS (SELECT vec_id, unnest(generate_series(0, len(embedding)-1)) AS d,
              unnest(embedding)::DOUBLE AS v
       FROM embeddings),
bits AS (SELECT vec_id, p,
                CASE WHEN sum(v * w) >= 0 THEN CAST(1 AS BIGINT) << p ELSE 0 END AS bval
         FROM fl JOIN planes USING (d) GROUP BY vec_id, p)
SELECT vec_id, CAST(sum(bval) AS BIGINT) AS bucket FROM bits GROUP BY vec_id""")),

    // EX-06 scale path, stage 2: approximate top-k restricted to the
    // query's bucket. Approximate w.r.t. exhaustive search, but fully
    // DETERMINISTIC given the hyperplanes — so it oracle-checks exactly.
    Q("ann03_bucketed_topk",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.bucketedTopK(emb, emb.filter(col("vec_id") < 50), 10)
      },
      Some(ann03Oracle)),

    // EX-06 stored layout: the SAME bucketed search against a corpus
    // physically partitioned by its LSH bucket — the 100 TB layout
    // claim made checkable. The index build (writeBucketedCorpus) runs
    // inside the query, then the search scans the stored layout with
    // dynamic partition pruning (PlanSpec gates the pruning; this
    // oracle row proves result parity with ann03's in-flight form).
    Q("ann03b_bucketed_stored",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val path = graft.Scratch.dir("bucketed_corpus", d)
        Similarity.writeBucketedCorpus(emb, path)
        Similarity.bucketedTopKStored(s, path, emb.filter(col("vec_id") < 50), 10)
      },
      Some(ann03Oracle)),

    // Incremental index maintenance: the corpus arrives in TWO batches
    // — initial build (vec_id < 1500) then an in-place append of the
    // rest — and the search result must be byte-identical to the
    // all-at-once build (same ann03 oracle). The append writes only
    // the bucket directories its batch hashes into (SimilaritySpec
    // pins the untouched-bucket file sets), so index maintenance is
    // O(batch) at any corpus size.
    Q("ann03c_bucketed_append",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val path = graft.Scratch.dir("bucketed_append", d)
        // fresh build each run: append is not idempotent
        graft.Scratch.delete(path)
        Similarity.writeBucketedCorpus(emb.filter(col("vec_id") < 1500), path)
        Similarity.appendToStoredBuckets(emb.filter(col("vec_id") >= 1500), path)
        Similarity.bucketedTopKStored(s, path, emb.filter(col("vec_id") < 50), 10)
      },
      Some(ann03Oracle)),

    // Index-maintenance lifecycle, final stage: build → two appends
    // (small-file accumulation) → clustered compaction to a fresh path
    // → query the COMPACTED index. Same oracle for the fourth time:
    // build mode, append count, and file layout must all be invisible
    // in results. SimilaritySpec pins the operational claim (one file
    // per bucket after compaction).
    Q("ann03d_bucketed_compacted",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val live = graft.Scratch.dir("bucketed_lifecycle", d)
        val compacted = graft.Scratch.dir("bucketed_compacted", d)
        graft.Scratch.delete(live); graft.Scratch.delete(compacted)
        Similarity.writeBucketedCorpus(emb.filter(col("vec_id") < 1000), live)
        Similarity.appendToStoredBuckets(
          emb.filter(col("vec_id") >= 1000 && col("vec_id") < 1500), live)
        Similarity.appendToStoredBuckets(emb.filter(col("vec_id") >= 1500), live)
        Similarity.compactStoredBuckets(s, live, compacted)
        Similarity.bucketedTopKStored(s, compacted, emb.filter(col("vec_id") < 50), 10)
      },
      Some(ann03Oracle)),

    // The stored index's FILE MANIFEST as the source of truth: build +
    // append record each data file's footer row count in `_files` at
    // write time — an append reads only its own files' footers, never
    // an index rescan — and bucketStats sums it per bucket, so hot LSH
    // buckets are a small metadata read BEFORE queries discover them
    // the hard way. This query reads the manifest (not the data, not a
    // file listing) after a build+append lifecycle; the oracle
    // recomputes every bucket's cardinality from the embeddings table,
    // so a stale or mis-counted manifest fails the hash.
    Q("ann03f_bucket_stats",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val path = graft.Scratch.dir("bucketed_stats", d)
        graft.Scratch.delete(path) // fresh build each run: append is not idempotent
        Similarity.writeBucketedCorpus(emb.filter(col("vec_id") < 1500), path)
        Similarity.appendToStoredBuckets(emb.filter(col("vec_id") >= 1500), path)
        Similarity.bucketStats(s, path).select(col("bucket"), col("n_vectors"))
      },
      Some(s"""WITH $planesSql,
fl AS (SELECT vec_id, unnest(generate_series(0, len(embedding)-1)) AS d,
              unnest(embedding)::DOUBLE AS v
       FROM embeddings),
bits AS (SELECT vec_id, p,
                CASE WHEN sum(v * w) >= 0 THEN CAST(1 AS BIGINT) << p ELSE 0 END AS bval
         FROM fl JOIN planes USING (d) GROUP BY vec_id, p),
bk AS (SELECT vec_id, CAST(sum(bval) AS BIGINT) AS bucket FROM bits GROUP BY vec_id)
SELECT bucket, CAST(count(*) AS BIGINT) AS n_vectors FROM bk GROUP BY bucket""")),

    // The hotBuckets REPORT as a first-class query: the capacity
    // planner's view over ann03f's manifest — buckets above 1.5× the
    // MEAN bucket load, largest first — answered from the `_files`
    // manifest plus hotBuckets' drift check against a listing (no data
    // scan). The scale-free threshold keeps real buckets on BOTH
    // sides of the cut at every gate SF, and `cnt > 1.5·total/nb` is
    // evaluated as the exact integer predicate `2·cnt·nb > 3·total`
    // (threshold = (3·total) div (2·nb) — equivalent for integer cnt),
    // so no float rounding can flip a boundary bucket between engines.
    Q("ann03g_hot_buckets",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val path = graft.Scratch.dir("bucketed_hot", d)
        Similarity.writeBucketedCorpus(emb, path)
        val stats = Similarity.bucketStats(s, path)
          .agg(sum(col("n_vectors")).as("t"), count(lit(1)).as("nb")).first()
        val thr = 3L * stats.getLong(0) / (2L * stats.getLong(1))
        Similarity.hotBuckets(s, path, thr)
          .select(col("bucket"), col("n_vectors"))
      },
      Some(s"""WITH $planesSql,
fl AS (SELECT vec_id, unnest(generate_series(0, len(embedding)-1)) AS d,
              unnest(embedding)::DOUBLE AS v
       FROM embeddings),
bits AS (SELECT vec_id, p,
                CASE WHEN sum(v * w) >= 0 THEN CAST(1 AS BIGINT) << p ELSE 0 END AS bval
         FROM fl JOIN planes USING (d) GROUP BY vec_id, p),
bk AS (SELECT vec_id, CAST(sum(bval) AS BIGINT) AS bucket FROM bits GROUP BY vec_id),
cnts AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_vectors FROM bk GROUP BY bucket),
thr AS (SELECT (3 * sum(n_vectors)) // (2 * count(*)) AS t FROM cnts)
SELECT bucket, n_vectors FROM cnts, thr WHERE n_vectors > thr.t""")),

    // Multi-probe against the SAME stored layout (Lv et al. 2007's
    // perturbation idea, single-bit-flip variant): each query probes
    // its own bucket PLUS the three buckets across its weakest-margin
    // hyperplanes — the recall lever that never touches the index
    // (SimilaritySpec measures the recall ladder and pins in-flight ≡
    // stored). Still ONE corpus scan: DPP prunes it to the union of
    // all probe buckets. Margins are deterministic, so the whole probe
    // set — and therefore the result — is oracle-checkable.
    Q("ann03e_multiprobe_stored",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val path = graft.Scratch.dir("bucketed_mp", d)
        Similarity.writeBucketedCorpus(emb, path)
        Similarity.bucketedTopKStored(s, path, emb.filter(col("vec_id") < 50), 10,
          nprobe = 4)
      },
      Some(ann03eOracle)),

    // Metadata-FILTERED ANN over the stored layout — the "search
    // within tenant/label" RAG shape: the label predicate sits under
    // the bucket join, so one scan composes DPP (probed bucket dirs
    // only) with parquet predicate pushdown (matching row groups
    // only); top-10 ranks matching vectors only. PlanSpec gates both
    // prunings on this exact query.
    Q("ann09_filtered_ann",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val path = graft.Scratch.dir("bucketed_meta", d)
        Similarity.writeBucketedCorpus(emb, path, metaCols = Seq("label"))
        Similarity.bucketedTopKStored(s, path, emb.filter(col("vec_id") < 50), 10,
          pred = Some(col("label") === 1))
      },
      Some(s"""WITH $planesSql,
fl AS (SELECT vec_id, unnest(generate_series(0, len(embedding)-1)) AS d,
              unnest(embedding)::DOUBLE AS v
       FROM embeddings),
bits AS (SELECT vec_id, p,
                CASE WHEN sum(v * w) >= 0 THEN CAST(1 AS BIGINT) << p ELSE 0 END AS bval
         FROM fl JOIN planes USING (d) GROUP BY vec_id, p),
bk AS (SELECT vec_id, CAST(sum(bval) AS BIGINT) AS bucket FROM bits GROUP BY vec_id),
${flatCte()},
prs AS (SELECT q.vec_id AS query_id, c.vec_id AS vec_id
        FROM bk q JOIN bk c ON q.bucket = c.bucket
        JOIN embeddings e ON e.vec_id = c.vec_id AND e.label = 1
        WHERE q.vec_id < 50),
dots AS (SELECT p.query_id, p.vec_id, sum(f1.v * f2.v) AS dp
         FROM prs p
         JOIN flat f1 ON f1.vec_id = p.query_id
         JOIN flat f2 ON f2.vec_id = p.vec_id AND f1.i = f2.i
         GROUP BY 1, 2),
scored AS (SELECT d.query_id, d.vec_id, round(dp / (n1.nrm * n2.nrm), 6) AS cos_sim
           FROM dots d
           JOIN norms n1 ON n1.vec_id = d.query_id
           JOIN norms n2 ON n2.vec_id = d.vec_id)
SELECT * FROM (
  SELECT query_id, vec_id, cos_sim,
         CAST(row_number() OVER (PARTITION BY query_id
           ORDER BY cos_sim DESC, vec_id ASC) AS BIGINT) AS rk
  FROM scored) t
WHERE rk <= 10""")),

    // IVF-PQ: the production composition — coarse k-means lists prune
    // candidates (ann04's machinery), trained PQ codes score them by ADC
    // (ann06b's codebooks) through IVF's scorer; the full-precision corpus
    // is never rescanned at query time. The oracle reuses BOTH trained
    // chains and restricts the ADC ranking to each query's probed list.
    Q("ann10_ivf_pq",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 30), 10)
      },
      Some(ann10Oracle)),

    // The STORED form of the same composition — the deployable index:
    // one PQ code row per vector, partitioned by coarse list
    // (path/lists/list_id=N/...), models alongside; the query's probe
    // join DPP-prunes the code scan to the probed lists' directories,
    // and the full-precision corpus is absent from the query path.
    // Same oracle as ann10 - the layout must not change results.
    Q("ann10b_ivf_pq_stored",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val path = graft.Scratch.dir("ivfpq_corpus", d)
        Similarity.writeIvfPqCorpus(emb, path)
        Similarity.ivfPqTopKStored(s, path, emb.filter(col("vec_id") < 30), 10)
      },
      Some(ann10Oracle)),

    // IVF-PQ + exact refine (the FAISS IndexRefineFlat shape): the
    // compressed index proposes the ADC top-40, the exact cosine
    // re-ranks only those 40 per query — recall recovers most of the
    // quantization loss at candidate-lookup cost (the exact leg is a
    // 40·|queries|-row equi-join, never a corpus scan). The recall
    // lift is measured in ann07's ladder (ivfpq_refine row).
    Q("ann11_ivfpq_refine",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.ivfPqRefineTopK(emb, emb.filter(col("vec_id") < 30), 10)
      },
      Some(ann11Oracle)),



    // EX-06, JL-reduction path: candidates ranked in a 16-d
    // random-projection space (¼ the arithmetic of brute force, and —
    // with projections stored alongside the vectors — ¼ the scan
    // bytes), exact rerank on the candidate set only. The smooth-recall
    // alternative to bucket pruning; measured in ann07's recall ladder.
    Q("ann08_random_projection",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.randomProjectionTopK(emb, emb.filter(col("vec_id") < 50), 10)
      },
      Some(s"""WITH rp AS (
  SELECT j, d,
         ((CAST(('0x' || substr(md5('rp_' || CAST(j AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 8)) AS BIGINT) % 2001) - 1000) / 1000.0 AS w
  FROM (SELECT unnest(generate_series(0, 15)) AS j) jj,
       (SELECT unnest(generate_series(0, 63)) AS d) dd
),
fl AS (SELECT vec_id, unnest(generate_series(0, len(embedding)-1)) AS d,
              unnest(embedding)::DOUBLE AS v
       FROM embeddings),
pj AS (SELECT vec_id, j, round(sum(v * w), 6) AS pv
       FROM fl JOIN rp USING (d) GROUP BY 1, 2),
pn AS (SELECT vec_id, sqrt(sum(pv * pv)) AS nrm FROM pj GROUP BY 1),
pd AS (SELECT q.vec_id AS query_id, c.vec_id AS vec_id, sum(q.pv * c.pv) AS dp
       FROM pj q JOIN pj c ON q.j = c.j WHERE q.vec_id < 50 GROUP BY 1, 2),
cand AS (SELECT query_id, vec_id FROM (
           SELECT d.query_id, d.vec_id,
                  row_number() OVER (PARTITION BY d.query_id
                    ORDER BY round(dp / (n1.nrm * n2.nrm), 6) DESC, d.vec_id ASC) AS crk
           FROM pd d
           JOIN pn n1 ON n1.vec_id = d.query_id
           JOIN pn n2 ON n2.vec_id = d.vec_id) t
         WHERE crk <= 40),
${flatCte()},
dots AS (SELECT p.query_id, p.vec_id, sum(f1.v * f2.v) AS dp
         FROM cand p
         JOIN flat f1 ON f1.vec_id = p.query_id
         JOIN flat f2 ON f2.vec_id = p.vec_id AND f1.i = f2.i
         GROUP BY 1, 2),
scored AS (SELECT d.query_id, d.vec_id, round(dp / (n1.nrm * n2.nrm), 6) AS cos_sim
           FROM dots d
           JOIN norms n1 ON n1.vec_id = d.query_id
           JOIN norms n2 ON n2.vec_id = d.vec_id)
SELECT * FROM (
  SELECT query_id, vec_id, cos_sim,
         CAST(row_number() OVER (PARTITION BY query_id
           ORDER BY cos_sim DESC, vec_id ASC) AS BIGINT) AS rk
  FROM scored) t
WHERE rk <= 10""")),

    // EX-06 scale path, IVF variant: inverted lists by nearest k-means
    // centroid (deterministic Lloyd's, 2 iterations, init = first 16
    // vectors), nprobe=1. The oracle trains the SAME centroids via the
    // kmeansCtes chain generated from the same constants.
    Q("ann04_ivf_topk",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 30), 10, 16, 2)
      },
      Some(ann04Oracle)),

    // IVF with STORED inverted lists: the same trained index written
    // as centroid-partitioned directories (+ its centroid table at
    // _centroids — query time never retrains), probed via a broadcast
    // equi-join that dynamically prunes the list scan to the probed
    // centroids (the ann03b treatment applied to IVF; PlanSpec gates
    // the pruning). Same oracle as ann04: storage layout must not
    // change results.
    Q("ann04b_ivf_stored",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val path = graft.Scratch.dir("ivf_corpus", d)
        Similarity.writeIvfCorpus(emb, path, 16, 2)
        Similarity.ivfTopKStored(s, path, emb.filter(col("vec_id") < 30), 10)
      },
      Some(ann04Oracle)),

    // Product quantization ANN (ADC): 64-dim vectors → 4 subspace
    // codes against 16-entry sample codebooks; queries score the
    // COMPRESSED corpus via per-query lookup tables. Approximate
    // w.r.t. exact cosine but fully deterministic given the sample
    // codebook — so the codes, reconstructed norms, and ADC ranking
    // all hash-check exactly.
    Q("ann06_pq_adc",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.pqTopK(emb, emb.filter(col("vec_id") < 10), 10)
      },
      Some("""WITH fl0 AS (SELECT vec_id, unnest(generate_series(0, len(embedding)-1)) AS d,
                    unnest(embedding)::DOUBLE AS v
             FROM embeddings),
sv AS (SELECT vec_id, d // 16 AS sub, d % 16 AS sd, v FROM fl0),
cb AS (SELECT vec_id AS centroid_id, sub, sd, round(v, 6) AS cv FROM sv WHERE vec_id < 16),
cd AS (SELECT s.vec_id, s.sub, c.centroid_id, sum(s.v * c.cv) AS dp
       FROM sv s JOIN cb c ON c.sub = s.sub AND c.sd = s.sd
       GROUP BY 1, 2, 3),
svn AS (SELECT vec_id, sub, sqrt(sum(v*v)) AS nrm FROM sv GROUP BY 1, 2),
cbn AS (SELECT centroid_id, sub, sqrt(sum(cv*cv)) AS nrm, sum(cv*cv) AS n2
        FROM cb GROUP BY 1, 2),
codes AS (SELECT vec_id, sub, centroid_id FROM (
            SELECT d.vec_id, d.sub, d.centroid_id,
                   row_number() OVER (PARTITION BY d.vec_id, d.sub
                     ORDER BY round(dp / (sn.nrm * cn.nrm), 6) DESC, d.centroid_id ASC) AS rn
            FROM cd d
            JOIN svn sn ON sn.vec_id = d.vec_id AND sn.sub = d.sub
            JOIN cbn cn ON cn.centroid_id = d.centroid_id AND cn.sub = d.sub) t
          WHERE rn = 1),
rec AS (SELECT co.vec_id, sum(cn.n2) AS rn2
        FROM codes co JOIN cbn cn ON cn.sub = co.sub AND cn.centroid_id = co.centroid_id
        GROUP BY 1),
lut AS (SELECT vec_id AS query_id, sub, centroid_id, dp FROM cd WHERE vec_id < 10),
qn AS (SELECT vec_id AS query_id, sqrt(sum(v*v)) AS nrm FROM fl0 WHERE vec_id < 10 GROUP BY 1),
sc AS (SELECT l.query_id, co.vec_id, sum(l.dp) AS adp
       FROM codes co JOIN lut l ON l.sub = co.sub AND l.centroid_id = co.centroid_id
       GROUP BY 1, 2),
scored AS (SELECT s.query_id, s.vec_id,
                  round(s.adp / (q.nrm * sqrt(r.rn2)), 6) AS pq_sim
           FROM sc s JOIN qn q ON q.query_id = s.query_id
           JOIN rec r ON r.vec_id = s.vec_id)
SELECT * FROM (
  SELECT query_id, vec_id, pq_sim,
         CAST(row_number() OVER (PARTITION BY query_id
           ORDER BY pq_sim DESC, vec_id ASC) AS BIGINT) AS rk
  FROM scored) t
WHERE rk <= 10""")),

    // PQ with K-MEANS-TRAINED codebooks (round-7 verdict item 2): L2
    // Lloyd's per subspace at the m=16/K=64 shape (see pqTopKTrained's
    // measured sweep — training at ann06's m=4/K=16 shape tops out at
    // 0.40 recall; the trained fine-grained shape reaches ~0.69,
    // above BOTH IVF paths). Fully deterministic (fixed init/iters,
    // 6-decimal rounding, id tiebreaks), so the trained codebooks,
    // codes, and ADC ranking all hash-check exactly against the
    // oracle's reproduction of the same training loop.
    Q("ann06b_pq_trained",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.pqTopKTrained(emb, emb.filter(col("vec_id") < 10), 10)
      },
      Some(s"""WITH fl0 AS (SELECT vec_id, unnest(generate_series(0, len(embedding)-1)) AS d,
                    unnest(embedding)::DOUBLE AS v
             FROM embeddings),
${pqTrainedChain(4, 64, 2, 10)}
SELECT query_id, vec_id, pq_sim, rk FROM t_top WHERE rk <= 10""")),

    // Scalar-quantization (SQ8) ANN — the third compression family
    // next to PQ (ann06/ann10) and JL projection (ann08): per-dim
    // [lo, hi] trained on the corpus, components encoded to 8-bit
    // levels (4× compression), queries score the dequantized level
    // midpoints asymmetrically. Codes and midpoints are bit-identical
    // cross-engine (exact min/max + same-association IEEE exprs);
    // only the final cosine rounds at the family-wide 6 decimals.
    Q("ann13_sq8_adc",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.sq8TopK(emb, emb.filter(col("vec_id") < 10), 10)
      },
      Some(s"""WITH ${flatCte()},
rng AS (SELECT i, min(v) AS lo, max(v) AS hi FROM flat GROUP BY 1),
rec AS (SELECT f.vec_id, f.i,
               r.lo + (CASE WHEN r.hi = r.lo THEN 0
                            ELSE least(255, floor((f.v - r.lo) / (r.hi - r.lo) * 256)) END
                       + 0.5) * (r.hi - r.lo) / 256 AS rv
        FROM flat f JOIN rng r ON r.i = f.i),
rnm AS (SELECT vec_id, sqrt(sum(rv*rv)) AS nrm FROM rec GROUP BY 1),
sc AS (SELECT q.vec_id AS query_id, r.vec_id, sum(q.v * r.rv) AS dp
       FROM flat q JOIN rec r ON r.i = q.i
       WHERE q.vec_id < 10 GROUP BY 1, 2),
scored AS (SELECT s.query_id, s.vec_id,
                  round(s.dp / (qn.nrm * rn.nrm), 6) AS sq_sim
           FROM sc s
           JOIN norms qn ON qn.vec_id = s.query_id
           JOIN rnm rn ON rn.vec_id = s.vec_id)
SELECT query_id, vec_id, sq_sim, rk FROM (
  SELECT query_id, vec_id, sq_sim,
         CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY sq_sim DESC, vec_id ASC) AS BIGINT) AS rk
  FROM scored) t
WHERE rk <= 10""")),

    // Embedding-cosine near-dup pairs (blocked to vec_id < 300; the
    // fixture vectors are i.i.d. random, so the threshold is set at 0.35
    // to exercise a non-empty result).
    Q("dd06_embed_neardup",
      (s, d) => Similarity.embeddingNearDup(Tables.embeddings(s, d), 0.35, 300),
      Some(s"""WITH ${flatCte("WHERE vec_id < 300")},
dots AS (SELECT f1.vec_id AS id_a, f2.vec_id AS id_b, sum(f1.v * f2.v) AS dp
         FROM flat f1 JOIN flat f2 ON f1.i = f2.i AND f1.vec_id < f2.vec_id
         GROUP BY 1, 2)
SELECT id_a, id_b, cos_sim FROM (
  SELECT d.id_a, d.id_b, round(dp / (n1.nrm * n2.nrm), 6) AS cos_sim
  FROM dots d
  JOIN norms n1 ON n1.vec_id = d.id_a
  JOIN norms n2 ON n2.vec_id = d.id_b) t
WHERE cos_sim > 0.35""")),

    // IVF with multi-probe (nprobe=2): the standard recall lever — each
    // query scores the lists of its TWO nearest centroids (corpus lists
    // stay disjoint, so no duplicate scoring). Same trained k-means
    // index as ann04; the oracle ranks query-side centroids from the
    // k-means chain's own cd2/cn2 CTEs.
    Q("ann05_ivf_nprobe2",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 30), 10, 16, 2, nprobe = 2)
      },
      Some(ann05Oracle)),

    // Stored IVF under multi-probe: the SAME stored index as ann04b,
    // probed at nprobe=2 — the query-side recall lever must compose
    // with the stored layout (two probed lists per query, DPP prunes
    // the scan to their union). Same oracle as ann05: neither the
    // layout nor the probe count may change results vs the in-flight
    // form.
    Q("ann05b_ivf_stored_nprobe2",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val path = graft.Scratch.dir("ivf_corpus", d)
        Similarity.writeIvfCorpus(emb, path, 16, 2)
        Similarity.ivfTopKStored(s, path, emb.filter(col("vec_id") < 30), 10, nprobe = 2)
      },
      Some(ann05Oracle)),

    // Recall@10 of every approximate ANN path against the brute-force
    // ground truth — the number an ANN user asks for first (determinism
    // is proven by ann02..ann06's hash-matches; usefulness needs the
    // recall figure). Ground truth is computed ONCE on the widest query
    // set (vec_id < 50) and shared; each method contributes one
    // (method, k, recall) row where recall = total hits / (n_queries ·
    // k). ivf_nprobe2 ≥ ivf_nprobe1 by construction (probing more lists
    // only adds candidates) — the spec'd nprobe-dominance made a
    // measured number. On i.i.d. random fixtures LSH recall is modest;
    // real embeddings cluster far tighter, so these are floor numbers.
    Q("ann07_recall",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val q50 = emb.filter(col("vec_id") < 50)
        val q30 = emb.filter(col("vec_id") < 30)
        // staged: all eight ladder rows join this ground truth — without
        // the checkpoint each union branch recomputes the brute-force
        // scan (measured: ~2s of the entry at sf0.1)
        //
        // The staged frames and the beam search are mutually
        // independent (each trains or scans from `emb` alone), so they
        // overlap: the training chains' small sequential Lloyd's jobs
        // back-fill the brute-force scan's stage tails instead of
        // serializing four barrier chains.
        val Seq(exact, cents, cbT, beam) = Stages.overlap(
          "ann07 exact" -> (() => Stages.stage(
            Similarity.bruteForceTopK(emb, q50, 10)
              .select(col("query_id"), col("vec_id")))),
          // each MODEL trains exactly once and serves every ladder row
          // that uses it (ivf1/ivf2/ivf_pq share the coarse quantizer,
          // pq_trained/ivf_pq share the PQ codebook) — the production
          // shape, and it halves the entry's training work
          "ann07 centroids" -> (() => Stages.stage(
            Similarity.kmeansCentroids(emb, 16, 2))),
          "ann07 codebook" -> (() => Stages.stage(
            Similarity.pqCodebookTrained(emb, 16, 4, 64, 2))),
          // the graph rung's beam search stages eagerly at construction
          // (seed scores + one checkpoint per round)
          "ann07 beam" -> (() => Similarity.beamSearchTopK(
            Similarity.knnGraph(emb, 5, maxBucketSize = Some(200)),
            emb, q50, Similarity.bucketSeeds(emb, maxBucketSize = Some(200)),
            10, 8, 3)))
        def row(method: String, nq: Int, approx: org.apache.spark.sql.DataFrame) =
          approx.select(col("query_id"), col("vec_id"))
            .join(exact, Seq("query_id", "vec_id"))
            .agg(round(count(lit(1)) / lit(nq * 10.0), 6).as("recall"))
            .select(lit(method).as("method"), lit(10).as("k"), col("recall"))
        row("lsh_bucketed", 50, Similarity.bucketedTopK(emb, q50, 10))
          .unionAll(row("ivf_nprobe1", 30,
            Similarity.ivfTopK(emb, q30, 10, 16, 2, nprobe = 1, centsOpt = Some(cents))))
          .unionAll(row("ivf_nprobe2", 30,
            Similarity.ivfTopK(emb, q30, 10, 16, 2, nprobe = 2, centsOpt = Some(cents))))
          // PQ scores the COMPRESSED corpus — its recall measures
          // quantization loss, not candidate pruning (PQ scans all
          // codes; the other paths scan subsets at full precision)
          .unionAll(row("pq_adc", 10, Similarity.pqTopK(emb, emb.filter(col("vec_id") < 10), 10)))
          // the trained m=16/K=64 form — the deployable PQ number
          .unionAll(row("pq_trained", 10,
            Similarity.pqTopKTrained(emb, emb.filter(col("vec_id") < 10), 10,
              cbOpt = Some(cbT))))
          // multi-probe: the recall knob that costs query fan-out, not
          // index rebuild
          .unionAll(row("lsh_multiprobe4", 50,
            Similarity.bucketedTopK(emb, q50, 10, nprobe = 4)))
          // JL candidate gen + exact rerank — smooth recall decay vs
          // the bucket paths' hash cliffs
          .unionAll(row("jl_rerank", 50,
            Similarity.randomProjectionTopK(emb, q50, 10)))
          // the IVF-PQ composition: list restriction × quantization
          .unionAll(row("ivf_pq", 10,
            Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 10), 10,
              centsOpt = Some(cents), cbOpt = Some(cbT))))
          // IVF-PQ + exact refine: the ADC top-40 re-ranked exactly —
          // recovers quantization loss at candidate-lookup cost
          .unionAll(row("ivfpq_refine", 10,
            Similarity.ivfPqRefineTopK(emb, emb.filter(col("vec_id") < 10), 10,
              centsOpt = Some(cents), cbOpt = Some(cbT))))
          // graph-based ANN (fourth family): beam search over the ann12
          // kNN graph from per-bucket seeds — the HNSW-family rung
          .unionAll(row("graph_beam", 50, beam))
      },
      Some(s"""WITH $planesSql,
fl AS (SELECT vec_id, unnest(generate_series(0, len(embedding)-1)) AS d,
              unnest(embedding)::DOUBLE AS v
       FROM embeddings),
bits AS (SELECT vec_id, p,
                CASE WHEN sum(v * w) >= 0 THEN CAST(1 AS BIGINT) << p ELSE 0 END AS bval
         FROM fl JOIN planes USING (d) GROUP BY vec_id, p),
bk AS (SELECT vec_id, CAST(sum(bval) AS BIGINT) AS bucket FROM bits GROUP BY vec_id),
${flatCte()},
${kmeansCtes(16, 2)},
ex_dots AS (SELECT f1.vec_id AS query_id, f2.vec_id AS vec_id, sum(f1.v * f2.v) AS dp
            FROM flat f1 JOIN flat f2 ON f1.i = f2.i
            WHERE f1.vec_id < 50 GROUP BY 1, 2),
ex_top AS (SELECT query_id, vec_id FROM (
             SELECT d.query_id, d.vec_id,
                    row_number() OVER (PARTITION BY d.query_id
                      ORDER BY round(dp / (n1.nrm * n2.nrm), 6) DESC, d.vec_id ASC) AS rk
             FROM ex_dots d
             JOIN norms n1 ON n1.vec_id = d.query_id
             JOIN norms n2 ON n2.vec_id = d.vec_id) t
           WHERE rk <= 10),
b_prs AS (SELECT q.vec_id AS query_id, c.vec_id AS vec_id
          FROM bk q JOIN bk c ON q.bucket = c.bucket
          WHERE q.vec_id < 50),
b_dots AS (SELECT p.query_id, p.vec_id, sum(f1.v * f2.v) AS dp
           FROM b_prs p
           JOIN flat f1 ON f1.vec_id = p.query_id
           JOIN flat f2 ON f2.vec_id = p.vec_id AND f1.i = f2.i
           GROUP BY 1, 2),
b_top AS (SELECT query_id, vec_id FROM (
            SELECT d.query_id, d.vec_id,
                   row_number() OVER (PARTITION BY d.query_id
                     ORDER BY round(dp / (n1.nrm * n2.nrm), 6) DESC, d.vec_id ASC) AS rk
            FROM b_dots d
            JOIN norms n1 ON n1.vec_id = d.query_id
            JOIN norms n2 ON n2.vec_id = d.vec_id) t
          WHERE rk <= 10),
qasgn AS (SELECT vec_id, centroid_id, rn FROM (
            SELECT d.vec_id, d.centroid_id,
                   row_number() OVER (PARTITION BY d.vec_id
                     ORDER BY round(dp / (n1.nrm * cn.nrm), 6) DESC, d.centroid_id ASC) AS rn
            FROM cd2 d
            JOIN norms n1 ON n1.vec_id = d.vec_id
            JOIN cn2 cn ON cn.centroid_id = d.centroid_id) t
          WHERE rn <= 2),
i1_prs AS (SELECT q.vec_id AS query_id, c.vec_id AS vec_id
           FROM qasgn q JOIN as2 c ON q.centroid_id = c.centroid_id
           WHERE q.rn = 1 AND q.vec_id < 30),
i2_prs AS (SELECT q.vec_id AS query_id, c.vec_id AS vec_id
           FROM qasgn q JOIN as2 c ON q.centroid_id = c.centroid_id
           WHERE q.vec_id < 30),
i1_dots AS (SELECT p.query_id, p.vec_id, sum(f1.v * f2.v) AS dp
            FROM i1_prs p
            JOIN flat f1 ON f1.vec_id = p.query_id
            JOIN flat f2 ON f2.vec_id = p.vec_id AND f1.i = f2.i
            GROUP BY 1, 2),
i2_dots AS (SELECT p.query_id, p.vec_id, sum(f1.v * f2.v) AS dp
            FROM i2_prs p
            JOIN flat f1 ON f1.vec_id = p.query_id
            JOIN flat f2 ON f2.vec_id = p.vec_id AND f1.i = f2.i
            GROUP BY 1, 2),
i1_top AS (SELECT query_id, vec_id FROM (
             SELECT d.query_id, d.vec_id,
                    row_number() OVER (PARTITION BY d.query_id
                      ORDER BY round(dp / (n1.nrm * n2.nrm), 6) DESC, d.vec_id ASC) AS rk
             FROM i1_dots d
             JOIN norms n1 ON n1.vec_id = d.query_id
             JOIN norms n2 ON n2.vec_id = d.vec_id) t
           WHERE rk <= 10),
i2_top AS (SELECT query_id, vec_id FROM (
             SELECT d.query_id, d.vec_id,
                    row_number() OVER (PARTITION BY d.query_id
                      ORDER BY round(dp / (n1.nrm * n2.nrm), 6) DESC, d.vec_id ASC) AS rk
             FROM i2_dots d
             JOIN norms n1 ON n1.vec_id = d.query_id
             JOIN norms n2 ON n2.vec_id = d.vec_id) t
           WHERE rk <= 10),
fl0 AS (SELECT vec_id, unnest(generate_series(0, len(embedding)-1)) AS d,
               unnest(embedding)::DOUBLE AS v
        FROM embeddings),
sv AS (SELECT vec_id, d // 16 AS sub, d % 16 AS sd, v FROM fl0),
cb AS (SELECT vec_id AS centroid_id, sub, sd, round(v, 6) AS cv FROM sv WHERE vec_id < 16),
cd AS (SELECT s.vec_id, s.sub, c.centroid_id, sum(s.v * c.cv) AS dp
       FROM sv s JOIN cb c ON c.sub = s.sub AND c.sd = s.sd
       GROUP BY 1, 2, 3),
svn AS (SELECT vec_id, sub, sqrt(sum(v*v)) AS nrm FROM sv GROUP BY 1, 2),
cbn AS (SELECT centroid_id, sub, sqrt(sum(cv*cv)) AS nrm, sum(cv*cv) AS n2
        FROM cb GROUP BY 1, 2),
codes AS (SELECT vec_id, sub, centroid_id FROM (
            SELECT d.vec_id, d.sub, d.centroid_id,
                   row_number() OVER (PARTITION BY d.vec_id, d.sub
                     ORDER BY round(dp / (sn.nrm * cn.nrm), 6) DESC, d.centroid_id ASC) AS rn
            FROM cd d
            JOIN svn sn ON sn.vec_id = d.vec_id AND sn.sub = d.sub
            JOIN cbn cn ON cn.centroid_id = d.centroid_id AND cn.sub = d.sub) t
          WHERE rn = 1),
rec AS (SELECT co.vec_id, sum(cn.n2) AS rn2
        FROM codes co JOIN cbn cn ON cn.sub = co.sub AND cn.centroid_id = co.centroid_id
        GROUP BY 1),
lut AS (SELECT vec_id AS query_id, sub, centroid_id, dp FROM cd WHERE vec_id < 10),
qn AS (SELECT vec_id AS query_id, sqrt(sum(v*v)) AS nrm FROM fl0 WHERE vec_id < 10 GROUP BY 1),
sc AS (SELECT l.query_id, co.vec_id, sum(l.dp) AS adp
       FROM codes co JOIN lut l ON l.sub = co.sub AND l.centroid_id = co.centroid_id
       GROUP BY 1, 2),
pq_top AS (SELECT query_id, vec_id FROM (
             SELECT s.query_id, s.vec_id,
                    row_number() OVER (PARTITION BY s.query_id
                      ORDER BY round(s.adp / (q.nrm * sqrt(r.rn2)), 6) DESC, s.vec_id ASC) AS rk
             FROM sc s JOIN qn q ON q.query_id = s.query_id
             JOIN rec r ON r.vec_id = s.vec_id) t
           WHERE rk <= 10),
${pqTrainedChain(4, 64, 2, 10)},
mp_mg AS (SELECT vec_id, p, sum(v * w) AS dp
          FROM fl JOIN planes USING (d) GROUP BY vec_id, p),
mp_qm AS (SELECT vec_id, p,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY round(abs(dp), 6) ASC, p ASC) AS rn
          FROM mp_mg WHERE vec_id < 50),
mp_probes AS (SELECT vec_id, bucket AS pb FROM bk WHERE vec_id < 50
              UNION ALL
              SELECT q.vec_id, xor(b.bucket, CAST(1 AS BIGINT) << q.p) AS pb
              FROM mp_qm q JOIN bk b USING (vec_id) WHERE q.rn <= 3),
mp_prs AS (SELECT p.vec_id AS query_id, c.vec_id AS vec_id
           FROM mp_probes p JOIN bk c ON c.bucket = p.pb),
mp_dots AS (SELECT p.query_id, p.vec_id, sum(f1.v * f2.v) AS dp
            FROM mp_prs p
            JOIN flat f1 ON f1.vec_id = p.query_id
            JOIN flat f2 ON f2.vec_id = p.vec_id AND f1.i = f2.i
            GROUP BY 1, 2),
mp_top AS (SELECT query_id, vec_id FROM (
             SELECT d.query_id, d.vec_id,
                    row_number() OVER (PARTITION BY d.query_id
                      ORDER BY round(dp / (n1.nrm * n2.nrm), 6) DESC, d.vec_id ASC) AS rk
             FROM mp_dots d
             JOIN norms n1 ON n1.vec_id = d.query_id
             JOIN norms n2 ON n2.vec_id = d.vec_id) t
           WHERE rk <= 10),
rp AS (SELECT j, d,
              ((CAST(('0x' || substr(md5('rp_' || CAST(j AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 8)) AS BIGINT) % 2001) - 1000) / 1000.0 AS w
       FROM (SELECT unnest(generate_series(0, 15)) AS j) jj,
            (SELECT unnest(generate_series(0, 63)) AS d) dd),
pj AS (SELECT vec_id, j, round(sum(v * w), 6) AS pv
       FROM fl JOIN rp USING (d) GROUP BY 1, 2),
pn AS (SELECT vec_id, sqrt(sum(pv * pv)) AS nrm FROM pj GROUP BY 1),
jl_pd AS (SELECT q.vec_id AS query_id, c.vec_id AS vec_id, sum(q.pv * c.pv) AS dp
          FROM pj q JOIN pj c ON q.j = c.j WHERE q.vec_id < 50 GROUP BY 1, 2),
jl_cand AS (SELECT query_id, vec_id FROM (
              SELECT d.query_id, d.vec_id,
                     row_number() OVER (PARTITION BY d.query_id
                       ORDER BY round(dp / (n1.nrm * n2.nrm), 6) DESC, d.vec_id ASC) AS crk
              FROM jl_pd d
              JOIN pn n1 ON n1.vec_id = d.query_id
              JOIN pn n2 ON n2.vec_id = d.vec_id) t
            WHERE crk <= 40),
jl_dots AS (SELECT p.query_id, p.vec_id, sum(f1.v * f2.v) AS dp
            FROM jl_cand p
            JOIN flat f1 ON f1.vec_id = p.query_id
            JOIN flat f2 ON f2.vec_id = p.vec_id AND f1.i = f2.i
            GROUP BY 1, 2),
jl_top AS (SELECT query_id, vec_id FROM (
             SELECT d.query_id, d.vec_id,
                    row_number() OVER (PARTITION BY d.query_id
                      ORDER BY round(dp / (n1.nrm * n2.nrm), 6) DESC, d.vec_id ASC) AS rk
             FROM jl_dots d
             JOIN norms n1 ON n1.vec_id = d.query_id
             JOIN norms n2 ON n2.vec_id = d.vec_id) t
           WHERE rk <= 10),
ivfpq_top AS (SELECT query_id, vec_id FROM (
                SELECT s.query_id, s.vec_id,
                       row_number() OVER (PARTITION BY s.query_id
                         ORDER BY s.pq_sim DESC, s.vec_id ASC) AS rk
                FROM t_scored s
                JOIN qasgn q ON q.vec_id = s.query_id AND q.rn = 1
                JOIN as2 c ON c.centroid_id = q.centroid_id AND c.vec_id = s.vec_id) t
              WHERE rk <= 10),
ivfpqr_cand AS (SELECT query_id, vec_id FROM (
                  SELECT s.query_id, s.vec_id,
                         row_number() OVER (PARTITION BY s.query_id
                           ORDER BY s.pq_sim DESC, s.vec_id ASC) AS rk
                  FROM t_scored s
                  JOIN qasgn q ON q.vec_id = s.query_id AND q.rn = 1
                  JOIN as2 c ON c.centroid_id = q.centroid_id AND c.vec_id = s.vec_id) t
                WHERE rk <= 40),
ivfpqr_dots AS (SELECT p.query_id, p.vec_id, sum(f1.v * f2.v) AS dp
                FROM ivfpqr_cand p
                JOIN flat f1 ON f1.vec_id = p.query_id
                JOIN flat f2 ON f2.vec_id = p.vec_id AND f1.i = f2.i
                GROUP BY 1, 2),
ivfpqr_top AS (SELECT query_id, vec_id FROM (
                 SELECT d.query_id, d.vec_id,
                        row_number() OVER (PARTITION BY d.query_id
                          ORDER BY round(dp / (n1.nrm * n2.nrm), 6) DESC, d.vec_id ASC) AS rk
                 FROM ivfpqr_dots d
                 JOIN norms n1 ON n1.vec_id = d.query_id
                 JOIN norms n2 ON n2.vec_id = d.vec_id) t
               WHERE rk <= 10),
bkc AS (SELECT b.vec_id, b.bucket FROM bk b
        JOIN (SELECT bucket FROM bk GROUP BY bucket
              HAVING count(*) <= 200) okc USING (bucket)),
gb_prs AS (SELECT a.vec_id, b.vec_id AS nbr_id
           FROM bkc a JOIN bkc b
             ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
gb_dots AS (SELECT p.vec_id, p.nbr_id, sum(f1.v * f2.v) AS dp
            FROM gb_prs p
            JOIN flat f1 ON f1.vec_id = p.vec_id
            JOIN flat f2 ON f2.vec_id = p.nbr_id AND f1.i = f2.i
            GROUP BY 1, 2),
edges AS (SELECT vec_id, nbr_id FROM (
            SELECT d.vec_id, d.nbr_id,
                   row_number() OVER (PARTITION BY d.vec_id
                     ORDER BY round(dp / (n1.nrm * n2.nrm), 6) DESC, d.nbr_id ASC) AS rk
            FROM gb_dots d
            JOIN norms n1 ON n1.vec_id = d.vec_id
            JOIN norms n2 ON n2.vec_id = d.nbr_id) t
          WHERE rk <= 5),
sds AS (SELECT min(vec_id) AS vec_id FROM bkc GROUP BY bucket),
qs AS (SELECT vec_id AS query_id FROM embeddings WHERE vec_id < 50),
gc0 AS (SELECT q.query_id, s.vec_id FROM qs q CROSS JOIN sds s),
${beamRoundCtes(rounds = 3, beamWidth = 8, prefix = "g")},
gbeam_top AS (SELECT query_id, vec_id FROM (
                SELECT query_id, vec_id,
                       row_number() OVER (PARTITION BY query_id
                         ORDER BY cos_sim DESC, vec_id ASC) AS rk
                FROM gvis) t WHERE rk <= 10)
SELECT 'lsh_bucketed' AS method, 10 AS k,
       round(count(*) / 500.0, 6) AS recall
  FROM b_top JOIN ex_top USING (query_id, vec_id)
UNION ALL
SELECT 'ivf_nprobe1', 10, round(count(*) / 300.0, 6)
  FROM i1_top JOIN ex_top USING (query_id, vec_id)
UNION ALL
SELECT 'ivf_nprobe2', 10, round(count(*) / 300.0, 6)
  FROM i2_top JOIN ex_top USING (query_id, vec_id)
UNION ALL
SELECT 'pq_adc', 10, round(count(*) / 100.0, 6)
  FROM pq_top JOIN ex_top USING (query_id, vec_id)
UNION ALL
SELECT 'pq_trained', 10, round(count(*) / 100.0, 6)
  FROM (SELECT query_id, vec_id FROM t_top WHERE rk <= 10) tt
  JOIN ex_top USING (query_id, vec_id)
UNION ALL
SELECT 'lsh_multiprobe4', 10, round(count(*) / 500.0, 6)
  FROM mp_top JOIN ex_top USING (query_id, vec_id)
UNION ALL
SELECT 'jl_rerank', 10, round(count(*) / 500.0, 6)
  FROM jl_top JOIN ex_top USING (query_id, vec_id)
UNION ALL
SELECT 'ivf_pq', 10, round(count(*) / 100.0, 6)
  FROM ivfpq_top JOIN ex_top USING (query_id, vec_id)
UNION ALL
SELECT 'ivfpq_refine', 10, round(count(*) / 100.0, 6)
  FROM ivfpqr_top JOIN ex_top USING (query_id, vec_id)
UNION ALL
SELECT 'graph_beam', 10, round(count(*) / 500.0, 6)
  FROM gbeam_top JOIN ex_top USING (query_id, vec_id)""")),

    // Batch kNN-graph: every vector's top-5 in-bucket neighbors — the
    // input to graph-based dedup / kNN-LM curation. dd06b's blocked
    // self-join cost profile plus one per-vector rank (vec_id-keyed
    // window, WindowGroupLimit-pushed).
    // The 200 hot-bucket cap (oracle-mirrored below) is far above every
    // base-fixture bucket (max 7 at sf0.01, 21 at sf0.1 — full recall
    // here) and bounds a scale-up's concentrated bucket to cap×n pairs
    // instead of Σ bucket² quadratic — the dd17 contract.
    Q("ann12_knn_graph",
      (s, d) => Similarity.knnGraph(Tables.embeddings(s, d), 5,
        maxBucketSize = Some(200)),
      Some(s"""WITH $knnEdgesCtes
SELECT vec_id, nbr_id, cos_sim, rk FROM edges""")),

    // Graph-based ANN (fourth family: hash / tree / quantization /
    // GRAPH): fixed-round beam search over the ann12 kNN graph from
    // one min-id seed per LSH bucket (the flat-graph HNSW search
    // shape). Per-round state is (queries × beam) rows — broadcast-
    // sized — and the oracle mirrors the rounds as unrolled CTEs, the
    // gr01–gr08 contract. Recall@10 is measured as the tenth ann07
    // ladder rung with a spec-pinned floor.
    Q("ann14_graph_beam",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.beamSearchTopK(
          Similarity.knnGraph(emb, 5, maxBucketSize = Some(200)),
          emb, emb.filter(col("vec_id") < 5),
          Similarity.bucketSeeds(emb, maxBucketSize = Some(200)),
          k = 10, beamWidth = 8, rounds = 3)
      },
      Some(ann14OracleSql)),

    // The STORED form of ann14 (round-17 verdict item 7 — the ann03b
    // treatment for graph-ANN): the kNN adjacency is built ONCE and
    // written partitioned by the source node's LSH bucket (+ a _seeds
    // sidecar). The beam stays on the driver: each round's expansion
    // joins the frontier rows on (bucket, vec_id) with the scan pruned
    // to the frontier's bucket directories (PlanSpec-gated), and one
    // small collect scores the candidates — four Spark jobs per round,
    // no rebuild or rescan of the whole graph. SAME oracle as ann14 —
    // the layout is an execution detail, not a semantic one.
    Q("ann14b_graph_beam_stored",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val path = graft.Scratch.dir("gidx14", d)
        graft.Scratch.delete(path) // pid-suffixed + fresh build each run
        Similarity.writeGraphIndex(emb, path, 5, maxBucketSize = Some(200))
        Similarity.beamSearchTopKStored(s, path, emb,
          emb.filter(col("vec_id") < 5), k = 10, beamWidth = 8, rounds = 3)
      },
      Some(ann14OracleSql)),

    // PageRank over the ann12 kNN graph — centrality in embedding
    // space, the graph-based data-selection score (representative docs
    // rank high, isolated near-dup satellites low). 5 damped rounds,
    // uniform start; per-iteration 9-decimal rounding pins cross-engine
    // agreement (see operators/Graph.scala).
    Q("gr01_pagerank",
      (s, d) => graft.operators.Graph.pageRank(
        Similarity.knnGraph(Tables.embeddings(s, d), 5,
          maxBucketSize = Some(200)),
        "vec_id", "nbr_id", iters = 5, damping = 0.85)
        .withColumnRenamed("node", "vec_id"),
      Some(s"""WITH $knnEdgesCtes,
nodes AS (SELECT vec_id FROM edges UNION SELECT nbr_id FROM edges),
deg AS (SELECT vec_id AS src, count(*) AS od FROM edges GROUP BY 1),
nn AS (SELECT count(*) AS n FROM nodes),
r0 AS (SELECT vec_id, round(CAST(1 AS DOUBLE) / nn.n, 9) AS r FROM nodes, nn),
${pageRankIterCtes(5, 0.85)}
SELECT vec_id, round(r, 6) AS pagerank FROM r5""")),

    // Weighted PageRank on the same graph: outflow splits ∝ edge
    // weight — the similarity-aware centrality (a strong near-neighbor
    // inherits more rank than a weak tail edge). Weight = 1 + cos_sim:
    // the fixture's random vectors produce NEGATIVE similarities (and
    // even negative per-source sums, measured −0.31 at sf0.01), which
    // would invert the rank flow; the +1 shift keeps weights strictly
    // positive while preserving the ordering. Per-source weight sums
    // are rounded to 9 decimals on BOTH sides so the transition
    // probabilities feeding each iteration are bit-identical.
    Q("gr02_pagerank_weighted",
      (s, d) => graft.operators.Graph.pageRankWeighted(
        Similarity.knnGraph(Tables.embeddings(s, d), 5,
          maxBucketSize = Some(200))
          .withColumn("w", col("cos_sim") + lit(1)),
        "vec_id", "nbr_id", "w", iters = 5, damping = 0.85)
        .withColumnRenamed("node", "vec_id"),
      Some(s"""WITH $knnEdgesCtes,
nodes AS (SELECT vec_id FROM edges UNION SELECT nbr_id FROM edges),
deg AS (SELECT vec_id AS src, round(sum(cos_sim + 1), 9) AS od
        FROM edges GROUP BY 1),
nn AS (SELECT count(*) AS n FROM nodes),
r0 AS (SELECT vec_id, round(CAST(1 AS DOUBLE) / nn.n, 9) AS r FROM nodes, nn),
${pageRankIterCtes(5, 0.85, share = "r.r * (e.cos_sim + 1) / d.od")}
SELECT vec_id, round(r, 6) AS pagerank FROM r5""")),

    // Personalized PageRank from a curated seed set (vec_id < 25):
    // teleport mass restarts ONLY at seeds, so rank = random-walk
    // proximity to the seeds — the "expand from known-good documents"
    // selection score. Seeds outside the graph (capped/singleton
    // buckets) are ignored on both sides.
    Q("gr03_ppr_seeds",
      (s, d) => graft.operators.Graph.personalizedPageRank(
        Similarity.knnGraph(Tables.embeddings(s, d), 5,
          maxBucketSize = Some(200)),
        "vec_id", "nbr_id",
        Tables.embeddings(s, d).select(col("vec_id")).filter(col("vec_id") < 25),
        "vec_id", iters = 5, damping = 0.85)
        .withColumnRenamed("node", "vec_id"),
      Some(s"""WITH $knnEdgesCtes,
nodes AS (SELECT vec_id FROM edges UNION SELECT nbr_id FROM edges),
deg AS (SELECT vec_id AS src, count(*) AS od FROM edges GROUP BY 1),
sd AS (SELECT vec_id FROM nodes WHERE vec_id < 25),
nt AS (SELECT count(*) AS n FROM sd),
r0 AS (SELECT n.vec_id,
              CASE WHEN sd.vec_id IS NOT NULL
                   THEN round(CAST(1 AS DOUBLE) / nt.n, 9)
                   ELSE CAST(0 AS DOUBLE) END AS r
       FROM nodes n CROSS JOIN nt
       LEFT JOIN sd ON sd.vec_id = n.vec_id),
${pprIterCtes(5, 0.85)}
SELECT vec_id, round(r, 6) AS pagerank FROM r5""")),

    // Exact triangles + clustering coefficients on the kNN graph —
    // the structure metric that separates tight near-dup clusters
    // (coeff → 1) from hub-like sparse neighborhoods. Wedge join on
    // the canonical lower endpoint: Σ lowdeg² fan-out (k²·n on a kNN
    // graph), closed by one equi-probe; integer counts end to end.
    Q("gr04_triangles",
      (s, d) => graft.operators.Graph.triangleStats(
        Similarity.knnGraph(Tables.embeddings(s, d), 5,
          maxBucketSize = Some(200)),
        "vec_id", "nbr_id")
        .withColumnRenamed("node", "vec_id"),
      Some(s"""WITH $knnEdgesCtes,
und AS (SELECT DISTINCT least(vec_id, nbr_id) AS a,
               greatest(vec_id, nbr_id) AS b
        FROM edges WHERE vec_id <> nbr_id),
nbr AS (SELECT a AS node FROM und UNION ALL SELECT b FROM und),
deg AS (SELECT node, CAST(count(*) AS BIGINT) AS degree FROM nbr GROUP BY 1),
tri AS (SELECT w1.a AS a, w1.b AS b, w2.b AS c
        FROM und w1
        JOIN und w2 ON w1.a = w2.a AND w1.b < w2.b
        JOIN und e ON e.a = w1.b AND e.b = w2.b),
pn AS (SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
       FROM (SELECT a AS node FROM tri UNION ALL
             SELECT b FROM tri UNION ALL
             SELECT c FROM tri) x
       GROUP BY 1)
SELECT deg.node AS vec_id, deg.degree,
       coalesce(pn.n_triangles, 0) AS n_triangles,
       CASE WHEN deg.degree >= 2
            THEN round(CAST(2 * coalesce(pn.n_triangles, 0) AS DOUBLE) /
                       (deg.degree * (deg.degree - 1)), 6)
       END AS clustering_coeff
FROM deg LEFT JOIN pn USING (node)""")),

    // Semi-supervised label propagation: 40 seed nodes carry one of 4
    // fixed labels (vec_id % 4); three synchronous rounds spread them
    // through the kNN graph by labeled-in-neighbor majority vote
    // (ties → smallest label) — the curation classifier (spread a
    // handful of human quality/topic labels through embedding space),
    // the discrete companion of gr03's PPR proximity mass. Integer
    // votes + total tie-break ⇒ bitwise cross-engine.
    Q("gr06_label_prop",
      (s, d) => graft.operators.Graph.labelPropagation(
        Similarity.knnGraph(Tables.embeddings(s, d), 5,
          maxBucketSize = Some(200)),
        "vec_id", "nbr_id",
        Tables.embeddings(s, d)
          .select(col("vec_id"), (col("vec_id") % 4).as("label"))
          .filter(col("vec_id") < 40),
        "vec_id", "label", iters = 3)
        .withColumnRenamed("node", "vec_id"),
      Some(s"""WITH $knnEdgesCtes,
l0 AS (SELECT vec_id AS node, vec_id % 4 AS label FROM embeddings WHERE vec_id < 40),
${lpIterCtes(3)}
SELECT node AS vec_id, label FROM l3""")),

    // Multi-source BFS hop distances from a curated seed set over the
    // kNN graph — the curation-radius query (which documents sit
    // within 3 hops of known-good seeds; the discrete sibling of
    // gr03's PPR proximity). Engine: frontier-sized Pregel rounds
    // (each round joins only NEWLY settled nodes, anti-joins the
    // settled set — O(reached edges) total). Oracle: layered
    // walk-length CTEs; min over walk lengths = shortest-path hops.
    // Integer distances end to end, no rounding contract.
    Q("gr05_bfs_hops",
      (s, d) => graft.operators.Graph.hopDistances(
        Similarity.knnGraph(Tables.embeddings(s, d), 5,
          maxBucketSize = Some(200)),
        "vec_id", "nbr_id",
        Tables.embeddings(s, d).select(col("vec_id")).filter(col("vec_id") < 50),
        "vec_id", maxHops = 3)
        .withColumnRenamed("node", "vec_id"),
      Some(s"""WITH $knnEdgesCtes,
r0 AS (SELECT DISTINCT vec_id AS node FROM embeddings WHERE vec_id < 50),
r1 AS (SELECT DISTINCT e.nbr_id AS node FROM edges e JOIN r0 ON e.vec_id = r0.node),
r2 AS (SELECT DISTINCT e.nbr_id AS node FROM edges e JOIN r1 ON e.vec_id = r1.node),
r3 AS (SELECT DISTINCT e.nbr_id AS node FROM edges e JOIN r2 ON e.vec_id = r2.node),
lv AS (SELECT node, 0 AS h FROM r0
       UNION ALL SELECT node, 1 FROM r1
       UNION ALL SELECT node, 2 FROM r2
       UNION ALL SELECT node, 3 FROM r3)
SELECT node AS vec_id, CAST(min(h) AS INTEGER) AS hops
FROM lv GROUP BY 1""")),

    // Common-neighbor link prediction on the kNN graph: non-adjacent
    // pairs whose neighborhoods interlock (≥ 2 shared neighbors) —
    // the missing-near-dup-edge detector / classic Liben-Nowell
    // baseline. One self-join of the doubled adjacency on the SHARED
    // neighbor (Σ deg² = k²·n fan-out), count-pruned before the degree
    // joins; Jaccard is an exact-integer ratio rounded 6.
    Q("gr07_link_prediction",
      (s, d) => graft.operators.Graph.linkPrediction(
        Similarity.knnGraph(Tables.embeddings(s, d), 5,
          maxBucketSize = Some(200)),
        "vec_id", "nbr_id", minCommon = 2),
      Some(s"""WITH $knnEdgesCtes,
und AS (SELECT DISTINCT least(vec_id, nbr_id) AS a,
               greatest(vec_id, nbr_id) AS b
        FROM edges WHERE vec_id <> nbr_id),
adj AS (SELECT a AS u, b AS x FROM und UNION ALL SELECT b, a FROM und),
deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS degree FROM adj GROUP BY 1),
cn AS (SELECT l.u AS u, r.u AS v, CAST(count(*) AS BIGINT) AS common_neighbors
       FROM adj l JOIN adj r ON l.x = r.x AND l.u < r.u
       GROUP BY 1, 2 HAVING count(*) >= 2),
opn AS (SELECT cn.* FROM cn
        LEFT JOIN und ON und.a = cn.u AND und.b = cn.v
        WHERE und.a IS NULL)
SELECT o.u, o.v, o.common_neighbors,
       round(CAST(o.common_neighbors AS DOUBLE) /
             (d1.degree + d2.degree - o.common_neighbors), 6) AS jaccard
FROM opn o
JOIN deg d1 ON d1.node = o.u
JOIN deg d2 ON d2.node = o.v""")),

    // 3-core of the kNN graph after three synchronous peel rounds —
    // dense near-dup cluster interiors with the hub/satellite fringe
    // peeled away (density companion of gr04's clustering coeff).
    // Fixed round budget = the PageRank-style mirrorable contract;
    // integer degrees end to end. Oracle: one layered CTE per peel.
    Q("gr08_kcore",
      (s, d) => graft.operators.Graph.kCore(
        Similarity.knnGraph(Tables.embeddings(s, d), 5,
          maxBucketSize = Some(200)),
        "vec_id", "nbr_id", k = 3, rounds = 3)
        .withColumnRenamed("node", "vec_id"),
      Some(s"""WITH $knnEdgesCtes,
und AS (SELECT DISTINCT least(vec_id, nbr_id) AS a,
               greatest(vec_id, nbr_id) AS b
        FROM edges WHERE vec_id <> nbr_id),
d0 AS (SELECT node, count(*) AS d
       FROM (SELECT a AS node FROM und UNION ALL SELECT b FROM und) x
       GROUP BY 1),
k0 AS (SELECT node FROM d0 WHERE d >= 3),
e1 AS (SELECT u.a, u.b FROM und u
       JOIN k0 x ON x.node = u.a JOIN k0 y ON y.node = u.b),
d1 AS (SELECT node, count(*) AS d
       FROM (SELECT a AS node FROM e1 UNION ALL SELECT b FROM e1) x
       GROUP BY 1),
k1 AS (SELECT node FROM d1 WHERE d >= 3),
e2 AS (SELECT u.a, u.b FROM e1 u
       JOIN k1 x ON x.node = u.a JOIN k1 y ON y.node = u.b),
d2 AS (SELECT node, count(*) AS d
       FROM (SELECT a AS node FROM e2 UNION ALL SELECT b FROM e2) x
       GROUP BY 1),
k2 AS (SELECT node FROM d2 WHERE d >= 3),
e3 AS (SELECT u.a, u.b FROM e2 u
       JOIN k2 x ON x.node = u.a JOIN k2 y ON y.node = u.b)
SELECT node AS vec_id, CAST(count(*) AS BIGINT) AS core_degree
FROM (SELECT a AS node FROM e3 UNION ALL SELECT b FROM e3) x
GROUP BY 1""")),

    // Embedding near-dup, corpus-scale form: LSH-bucket blocking over
    // the FULL table (no id block) — bucket equi-join, not an all-pairs
    // theta-join. Threshold is low (0.1) because the fixture vectors
    // are i.i.d. random; real embeddings cluster far tighter.
    Q("dd06b_embed_neardup_lsh",
      (s, d) => Similarity.embeddingNearDupBucketed(Tables.embeddings(s, d), 0.1, 8, 64),
      Some(s"""WITH $planesSql,
fl AS (SELECT vec_id, unnest(generate_series(0, len(embedding)-1)) AS d,
              unnest(embedding)::DOUBLE AS v
       FROM embeddings),
bits AS (SELECT vec_id, p,
                CASE WHEN sum(v * w) >= 0 THEN CAST(1 AS BIGINT) << p ELSE 0 END AS bval
         FROM fl JOIN planes USING (d) GROUP BY vec_id, p),
bk AS (SELECT vec_id, CAST(sum(bval) AS BIGINT) AS bucket FROM bits GROUP BY vec_id),
${flatCte()},
prs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
dots AS (SELECT p.id_a, p.id_b, sum(f1.v * f2.v) AS dp
         FROM prs p
         JOIN flat f1 ON f1.vec_id = p.id_a
         JOIN flat f2 ON f2.vec_id = p.id_b AND f1.i = f2.i
         GROUP BY 1, 2)
SELECT id_a, id_b, cos_sim FROM (
  SELECT d.id_a, d.id_b, round(dp / (n1.nrm * n2.nrm), 6) AS cos_sim
  FROM dots d
  JOIN norms n1 ON n1.vec_id = d.id_a
  JOIN norms n2 ON n2.vec_id = d.id_b) t
WHERE cos_sim > 0.1""")),

    // SemDeDup (arXiv:2303.09540): k-means cluster (same trained
    // centroids as ann04 — the oracle reuses the kmeansCtes chain),
    // then within-cluster cosine near-dup, keep the min id. The
    // threshold is low (0.3) because the fixture vectors are i.i.d.
    // random; real embeddings cluster far tighter.
    Q("dd12_semdedup",
      (s, d) => Similarity.semDedup(Tables.embeddings(s, d), 0.3, 16, 2),
      // Oracle shape (round-18, the ~sf1 single-pass-stamp item): the
      // old within-cluster dots joined the ELEMENT-FLATTENED corpus
      // twice — Σ cluster² pairs × dim rows through a join+hash-agg
      // (~1.6e9 intermediate rows at the 10× replica; 711 s solo, past
      // the jobs=4 stamp envelope). list_inner_product over the
      // double-cast embedding arrays computes the same per-element
      // double products SEQUENTIALLY (closer to the engine's ArrayDot
      // fold than the old unordered SQL sum) at pairs-scale: measured
      // 164 s at the 10× replica under the stamp's 24 GB / 8-thread
      // child settings. Identical hashes at sf0.01/sf0.1/x10.
      Some(s"""WITH ${flatCte()},
${kmeansCtes(16, 2)},
eemb AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
prs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM as2 a JOIN as2 b ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id),
dots AS (SELECT p.id_a, p.id_b, list_inner_product(ea.emb, eb.emb) AS dp
         FROM prs p
         JOIN eemb ea ON ea.vec_id = p.id_a
         JOIN eemb eb ON eb.vec_id = p.id_b),
dropped AS (SELECT DISTINCT d.id_b AS vec_id
            FROM dots d
            JOIN norms n1 ON n1.vec_id = d.id_a
            JOIN norms n2 ON n2.vec_id = d.id_b
            WHERE round(dp / (n1.nrm * n2.nrm), 6) > 0.3)
SELECT a.vec_id, a.centroid_id FROM as2 a
WHERE a.vec_id NOT IN (SELECT vec_id FROM dropped)""")),

    // Multimodal: REAL image decode — synthesize one genuine PNG per
    // document (dims and every pixel are closed-form functions of
    // doc_id), push it through javax.imageio in the mapPartitions
    // codec shape, and emit decoded dims + gray-channel pixel sum. The
    // oracle recomputes all of it from doc_id arithmetic, so the whole
    // encode→decode round-trip (PNG writer, zlib, color model, byte
    // order) is hash-certified — a codec defect anywhere mismatches.
    Q("mm01_decode_meta",
      (s, d) => Multimodal.decodePng(s,
        Multimodal.synthesizePng(s, Tables.documents(s, d)).toDF()).toDF(),
      Some("""WITH dims AS (SELECT doc_id,
                     CAST(doc_id % 16 + 4 AS INTEGER) AS w,
                     CAST((doc_id // 16) % 8 + 4 AS INTEGER) AS h
              FROM documents),
px AS (SELECT doc_id, w, h, unnest(generate_series(0, w - 1)) AS x FROM dims),
pxy AS (SELECT doc_id, w, h, x, unnest(generate_series(0, h - 1)) AS y FROM px),
s AS (SELECT doc_id, w, h, sum((doc_id + 7 * x + 13 * y) % 256) AS ps
      FROM pxy GROUP BY 1, 2, 3)
SELECT doc_id AS media_id, 'image/png' AS media_type, w AS width, h AS height,
       CAST(w AS BIGINT) * h AS n_pixels, CAST(ps AS BIGINT) AS px_sum
FROM s""")),

    // Multimodal: REAL resize — decode, nearest-neighbor resample to
    // maxDim = 8 (exact integer index map sx = x·w/nw), RE-ENCODE as
    // PNG, decode the re-encoded bytes again, and report the second
    // decode's dims + pixel sum: the emitted stats certify the output
    // payload is a well-formed image with exactly the predicted
    // raster. Oracle mirrors the dims and the resample arithmetic.
    Q("mm05_png_resize",
      (s, d) => Multimodal.resizePng(s,
        Multimodal.synthesizePng(s, Tables.documents(s, d)).toDF(), 8).toDF(),
      Some("""WITH dims AS (SELECT doc_id,
                     CAST(doc_id % 16 + 4 AS INTEGER) AS w,
                     CAST((doc_id // 16) % 8 + 4 AS INTEGER) AS h
              FROM documents),
nd AS (SELECT doc_id, w, h,
              CAST(CASE WHEN greatest(w, h) <= 8 THEN w
                        ELSE greatest(1, w * 8 // greatest(w, h)) END AS INTEGER) AS nw,
              CAST(CASE WHEN greatest(w, h) <= 8 THEN h
                        ELSE greatest(1, h * 8 // greatest(w, h)) END AS INTEGER) AS nh
       FROM dims),
px AS (SELECT doc_id, w, h, nw, nh, unnest(generate_series(0, nw - 1)) AS x FROM nd),
pxy AS (SELECT doc_id, w, h, nw, nh, x, unnest(generate_series(0, nh - 1)) AS y FROM px),
s AS (SELECT doc_id, w, h, nw, nh,
             sum((doc_id + 7 * (x * w // nw) + 13 * (y * h // nh)) % 256) AS ps
      FROM pxy GROUP BY 1, 2, 3, 4, 5)
SELECT doc_id AS media_id, w AS width, h AS height,
       nw AS new_width, nh AS new_height, CAST(ps AS BIGINT) AS px_sum
FROM s""")),

    // Multimodal: frame/window sampling over the payload bytes.
    Q("mm02_frame_sample",
      (s, d) => Multimodal.sampleFrames(Multimodal.asBinary(Tables.documents(s, d)), 256),
      Some("""SELECT media_id, frame_no, CAST(frame_no * 256 AS BIGINT) AS byte_offset
              FROM (SELECT doc_id AS media_id,
                           unnest(generate_series(0, CAST(strlen(text) AS BIGINT) // 256)) AS frame_no
                    FROM documents) t""")),

    // Multimodal → ANN end-to-end: the REAL byte-histogram features from
    // the mapPartitions extractor (the CNN-embedding shape) fed through
    // the hyperplane-bucketed top-k — the "embed your images, then
    // similarity-search them" pipeline in one oracle-checked query.
    // Features are rounded to 6 decimals on both sides after the
    // float32 quantization (the oracle replicates the float step with
    // CAST(... AS REAL)), so the hard sign threshold in the bucket bits
    // sees bit-identical inputs in both engines.
    Q("mm03_features_ann",
      (s, d) => {
        val feats = Multimodal
          .extractFeatures(s, Multimodal.asBinary(Tables.documents(s, d)))
          .toDF()
          .select(col("media_id").as("vec_id"),
            transform(col("features"), x => round(x.cast("double"), 6)).as("embedding"))
        Similarity.bucketedTopK(feats, feats.filter(col("vec_id") < 20), 5,
          numPlanes = 8, dim = 16)
      },
      Some {
        s"""WITH $featCtes,
$planesSql,
fl AS (SELECT vec_id, unnest(generate_series(0, len(embedding)-1)) AS d,
              unnest(embedding)::DOUBLE AS v
       FROM feat),
bits AS (SELECT vec_id, p,
                CASE WHEN sum(v * w) >= 0 THEN CAST(1 AS BIGINT) << p ELSE 0 END AS bval
         FROM fl JOIN planes USING (d) GROUP BY vec_id, p),
bk AS (SELECT vec_id, CAST(sum(bval) AS BIGINT) AS bucket FROM bits GROUP BY vec_id),
flat AS (SELECT vec_id, unnest(generate_series(1, len(embedding))) AS i,
                unnest(embedding)::DOUBLE AS v
         FROM feat),
norms AS (SELECT vec_id, sqrt(sum(v*v)) AS nrm FROM flat GROUP BY vec_id),
prs AS (SELECT q.vec_id AS query_id, c.vec_id AS vec_id
        FROM bk q JOIN bk c ON q.bucket = c.bucket
        WHERE q.vec_id < 20),
dots AS (SELECT p.query_id, p.vec_id, sum(f1.v * f2.v) AS dp
         FROM prs p
         JOIN flat f1 ON f1.vec_id = p.query_id
         JOIN flat f2 ON f2.vec_id = p.vec_id AND f1.i = f2.i
         GROUP BY 1, 2),
scored AS (SELECT d.query_id, d.vec_id, round(dp / (n1.nrm * n2.nrm), 6) AS cos_sim
           FROM dots d
           JOIN norms n1 ON n1.vec_id = d.query_id
           JOIN norms n2 ON n2.vec_id = d.vec_id)
SELECT * FROM (
  SELECT query_id, vec_id, cos_sim,
         CAST(row_number() OVER (PARTITION BY query_id
           ORDER BY cos_sim DESC, vec_id ASC) AS BIGINT) AS rk
  FROM scored) t
WHERE rk <= 5"""
      }),

    // Multimodal dedup index build: the per-media composition of the
    // two dedup keys — the exact canonical (min media_id per payload
    // checksum — the reference find-or-insert shape on binary content)
    // and the feature LSH bucket (byte-histogram features → hyperplane
    // bucket, the near-dup blocking key). One projection pass each; at
    // 100 TB both keys become storage layout (checksum for exact-dup
    // shrink, bucket for the near-dup candidate join).
    Q("mm04_media_dedup_index",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val media = Multimodal.asBinary(Tables.documents(s, d))
        val exact = Multimodal.decodeMetaExpr(media)
          .select(col("media_id"),
            min(col("media_id")).over(Window.partitionBy(col("checksum")))
              .as("exact_id"))
        val feats = Multimodal.extractFeatures(s, media).toDF()
          .select(col("media_id"),
            transform(col("features"), x => round(x.cast("double"), 6)).as("embedding"))
        val buckets = feats.select(col("media_id"),
          Similarity.lshBucket(col("embedding"), 8, 16).as("feature_bucket"))
        exact.join(buckets, Seq("media_id"))
      },
      Some(s"""WITH $featCtes,
$planesSql,
fl AS (SELECT vec_id, unnest(generate_series(0, len(embedding)-1)) AS d,
              unnest(embedding)::DOUBLE AS v
       FROM feat),
bits AS (SELECT vec_id, p,
                CASE WHEN sum(v * w) >= 0 THEN CAST(1 AS BIGINT) << p ELSE 0 END AS bval
         FROM fl JOIN planes USING (d) GROUP BY vec_id, p),
bk AS (SELECT vec_id, CAST(sum(bval) AS BIGINT) AS bucket FROM bits GROUP BY vec_id),
exact AS (SELECT doc_id AS media_id,
                 min(doc_id) OVER (PARTITION BY md5(text)) AS exact_id
          FROM documents)
SELECT e.media_id, e.exact_id, bk.bucket AS feature_bucket
FROM exact e JOIN bk ON bk.vec_id = e.media_id""")),

    // Multimodal PERCEPTUAL dedup: average-hash (aHash) of the real
    // decoded raster — 8×8 nearest-neighbor downsample, mean threshold,
    // 64-bit fingerprint — then dedup by GROUPING on the hash (the dd01
    // exact-dedup shape with a perceptual key; never pairwise pixels).
    // The fixture's id-arithmetic makes ids 256 apart encode identical
    // images, so real perceptual duplicate groups exist and the oracle
    // recomputes hash, group size, and canonical id from doc_id alone —
    // decode, resample, threshold, and blocking all hash-certified.
    Q("mm06_ahash_dedup",
      (s, d) => {
        val ah = Multimodal.aHashPng(s,
          Multimodal.synthesizePng(s, Tables.documents(s, d)).toDF()).toDF()
        val grp = ah.groupBy(col("ahash"))
          .agg(count(lit(1)).cast("long").as("n_same"),
            min(col("media_id")).as("canonical_id"))
        ah.join(grp, Seq("ahash"))
          .select(col("media_id"), col("ahash"), col("mean_px"),
            col("n_same"), col("canonical_id"))
      },
      Some("""WITH dims AS (SELECT doc_id,
                     CAST(doc_id % 16 + 4 AS INTEGER) AS w,
                     CAST((doc_id // 16) % 8 + 4 AS INTEGER) AS h
              FROM documents),
gx AS (SELECT doc_id, w, h, unnest(generate_series(0, 7)) AS x FROM dims),
g AS (SELECT doc_id, w, h, x, unnest(generate_series(0, 7)) AS y FROM gx),
p AS (SELECT doc_id, y * 8 + x AS pos,
             (doc_id + 7 * ((x * w) // 8) + 13 * ((y * h) // 8)) % 256 AS px
      FROM g),
m AS (SELECT doc_id, sum(px) / 64.0 AS mu FROM p GROUP BY doc_id),
b AS (SELECT p.doc_id,
             string_agg(CASE WHEN p.px > m.mu THEN '1' ELSE '0' END, ''
                        ORDER BY p.pos) AS ahash,
             any_value(m.mu) AS mean_px
      FROM p JOIN m USING (doc_id) GROUP BY p.doc_id),
grp AS (SELECT ahash, CAST(count(*) AS BIGINT) AS n_same,
               min(doc_id) AS canonical_id
        FROM b GROUP BY ahash)
SELECT b.doc_id AS media_id, b.ahash, b.mean_px, grp.n_same, grp.canonical_id
FROM b JOIN grp USING (ahash)""")),

    // Multimodal perceptual NEAR-dup (mm06 finds only exact aHash
    // collisions; re-encoded/slightly-altered images land a few bits
    // away): Hamming-radius pairs over the 64-bit aHash via
    // NearDup.bitstringNearDup — identical hashes collapse to one
    // multiplicity-carrying node FIRST (never k²/2 pairs per duplicate
    // group), then the 4×16-bit band pigeonhole (radius 3 < 4 bands ⇒
    // exact recall over distinct pairs) and a 32-bit-chunk XOR popcount
    // verify. Output is distinct-hash-pair sized at every SF. The
    // oracle pairs the distinct hashes naively (bounded set) with
    // DuckDB BIT xor — a banding or popcount bug fails the hash.
    Q("mm11_ahash_neardup",
      (s, d) => {
        val ah = Multimodal.aHashPng(s,
          Multimodal.synthesizePng(s, Tables.documents(s, d)).toDF()).toDF()
        graft.operators.NearDup.bitstringNearDup(
          ah.select(col("media_id"), col("ahash")), "media_id", "ahash",
          bits = 64, maxHamming = 3, numBands = 4)
      },
      Some("""WITH dims AS (SELECT doc_id,
                     CAST(doc_id % 16 + 4 AS INTEGER) AS w,
                     CAST((doc_id // 16) % 8 + 4 AS INTEGER) AS h
              FROM documents),
gx AS (SELECT doc_id, w, h, unnest(generate_series(0, 7)) AS x FROM dims),
g AS (SELECT doc_id, w, h, x, unnest(generate_series(0, 7)) AS y FROM gx),
p AS (SELECT doc_id, y * 8 + x AS pos,
             (doc_id + 7 * ((x * w) // 8) + 13 * ((y * h) // 8)) % 256 AS px
      FROM g),
m AS (SELECT doc_id, sum(px) / 64.0 AS mu FROM p GROUP BY doc_id),
b AS (SELECT p.doc_id,
             string_agg(CASE WHEN p.px > m.mu THEN '1' ELSE '0' END, ''
                        ORDER BY p.pos) AS ahash
      FROM p JOIN m USING (doc_id) GROUP BY p.doc_id),
u AS (SELECT ahash, CAST(count(*) AS BIGINT) AS n, min(doc_id) AS rep
      FROM b GROUP BY ahash)
SELECT a.ahash AS hash_a, c.ahash AS hash_b, a.n AS n_a, c.n AS n_b,
       a.rep AS rep_a, c.rep AS rep_b,
       CAST(bit_count(xor(a.ahash::BIT, c.ahash::BIT)) AS INTEGER) AS hamming
FROM u a JOIN u c ON a.ahash < c.ahash
WHERE bit_count(xor(a.ahash::BIT, c.ahash::BIT)) <= 3""")),

    // Multimodal: REAL JPEG decode — the LOSSY member of the big-three
    // image formats (PNG mm05/mm06, GIF mm09). The fixture pins the
    // aHash exactly despite codec loss: flat 8×8 blocks aligned to the
    // DCT grid (only DC survives — error a few gray levels), two levels
    // 64/192 in an exactly-half-high pattern (mean pinned at 128, ±64
    // margin), so the decoded hash equals the closed-form hash and the
    // whole encode→decode→hash→dedup chain is hash-certified. Dedup is
    // group-by-hash (dd01 shape with a perceptual key) — never pairwise
    // pixels.
    Q("mm12_jpeg_ahash_dedup",
      (s, d) => {
        val ah = Multimodal.aHashJpeg(s,
          Multimodal.synthesizeJpeg(s, Tables.documents(s, d)).toDF()).toDF()
        val grp = ah.groupBy(col("ahash"))
          .agg(count(lit(1)).cast("long").as("n_same"),
            min(col("media_id")).as("canonical_id"))
        ah.join(grp, Seq("ahash"))
          .select(col("media_id"), col("ahash"), col("n_same"),
            col("canonical_id"))
      },
      Some("""WITH gx AS (SELECT doc_id, unnest(generate_series(0, 7)) AS x FROM documents),
g AS (SELECT doc_id, x, unnest(generate_series(0, 7)) AS y FROM gx),
b AS (SELECT doc_id, y * 8 + x AS pos,
             CASE WHEN ((CASE WHEN y < 4 THEN doc_id ELSE doc_id // 4 END)
                        + 3 * x + 5 * y) % 4 < 2
                  THEN '1' ELSE '0' END AS bit
      FROM g),
hh AS (SELECT doc_id, string_agg(bit, '' ORDER BY pos) AS ahash
       FROM b GROUP BY doc_id),
grp AS (SELECT ahash, CAST(count(*) AS BIGINT) AS n_same,
               min(doc_id) AS canonical_id
        FROM hh GROUP BY ahash)
SELECT hh.doc_id AS media_id, hh.ahash, grp.n_same, grp.canonical_id
FROM hh JOIN grp USING (ahash)""")),

    // Multimodal: REAL audio decode — synthesize one genuine RIFF/WAVE
    // payload per document (rate, sample count, and every PCM sample are
    // closed-form functions of doc_id), parse it back through
    // javax.sound.sampled (the JVM's real audio stack: header fields
    // come from the AudioFormat, frames decode honoring its declared
    // byte order), and emit format fields + exact integer sample sums.
    // The oracle recomputes everything from doc_id arithmetic, so the
    // whole encode→decode round-trip (RIFF layout, little-endian int16,
    // sign handling) is hash-certified — the audio analog of mm01.
    Q("mm07_wav_meta",
      (s, d) => Multimodal.decodeWav(s,
        Multimodal.synthesizeWav(s, Tables.documents(s, d)).toDF()).toDF(),
      Some("""WITH g AS (SELECT doc_id,
                     CAST(8000 + (doc_id % 3) * 4000 AS INTEGER) AS rate,
                     (doc_id % 96) * 7 + 64 AS n
              FROM documents),
s AS (SELECT doc_id, rate, n, unnest(generate_series(0, n - 1)) AS i FROM g),
v AS (SELECT doc_id, rate, n, ((doc_id * 31 + i * 17) % 4096) - 2048 AS sv FROM s),
agg AS (SELECT doc_id, rate, n, sum(sv) AS ssum, sum(abs(sv)) AS asum
        FROM v GROUP BY 1, 2, 3)
SELECT doc_id AS media_id, 'audio/wav' AS media_type, rate AS sample_rate,
       CAST(1 AS INTEGER) AS channels, CAST(16 AS INTEGER) AS bits,
       CAST(n AS BIGINT) AS n_samples,
       CAST(n * 1000000 // rate AS BIGINT) AS duration_us,
       CAST(ssum AS BIGINT) AS sample_sum, CAST(asum AS BIGINT) AS abs_sum
FROM agg""")),

    // Multimodal: windowed audio features over the REAL decoded PCM —
    // per-256-sample window count, peak |amplitude|, exact Σs², and the
    // derived RMS (round-6 double, computed as a plan column so both
    // engines apply the same rounding convention to the same exact
    // integers). The per-window rows are produced INSIDE the decode
    // task with O(window) state — the entity's audio never
    // materializes per-sample in the dataflow, the audio analog of the
    // bounded-state sketch rule every other operator follows.
    Q("mm08_wav_windows",
      (s, d) => Multimodal.wavWindows(s,
        Multimodal.synthesizeWav(s, Tables.documents(s, d)).toDF(), 256).toDF()
        .withColumn("rms",
          round(sqrt(col("sq_sum").cast("double") / col("n")), 6)),
      Some("""WITH g AS (SELECT doc_id, (doc_id % 96) * 7 + 64 AS ns
              FROM documents),
s AS (SELECT doc_id, unnest(generate_series(0, ns - 1)) AS i FROM g),
v AS (SELECT doc_id, CAST(i // 256 AS INTEGER) AS win_no,
             ((doc_id * 31 + i * 17) % 4096) - 2048 AS sv
      FROM s),
w AS (SELECT doc_id, win_no, CAST(count(*) AS INTEGER) AS n,
             CAST(max(abs(sv)) AS INTEGER) AS peak,
             CAST(sum(sv * sv) AS BIGINT) AS sq_sum
      FROM v GROUP BY 1, 2)
SELECT doc_id AS media_id, win_no, n, peak, sq_sum,
       round(sqrt(CAST(sq_sum AS DOUBLE) / n), 6) AS rms
FROM w""")),

    // Multimodal: REAL video-shaped frame decode — synthesize one
    // genuine multi-frame GIF89a per document (frame count, dims, and
    // every pixel closed-form in doc_id; interlacing disabled — the JDK
    // writer/reader pair doesn't round-trip interlaced rasters), then
    // explode the container into per-frame rows through the real
    // javax.imageio GIF codec, emitting each frame's decoded dims +
    // pixel sum. The oracle recomputes all of it from (doc_id,
    // frame_no) arithmetic, hash-certifying the palette, LZW, and
    // frame-sequencing layers end to end — the container-with-frames
    // analog of mm01's single-raster decode.
    Q("mm09_gif_frames",
      (s, d) => Multimodal.decodeGifFrames(s,
        Multimodal.synthesizeGif(s, Tables.documents(s, d)).toDF()).toDF(),
      Some("""WITH g AS (SELECT doc_id,
                     CAST(doc_id % 12 + 4 AS INTEGER) AS w,
                     CAST((doc_id // 12) % 6 + 4 AS INTEGER) AS h,
                     CAST(doc_id % 4 + 2 AS INTEGER) AS nf
              FROM documents),
f AS (SELECT doc_id, w, h, CAST(unnest(generate_series(0, nf - 1)) AS INTEGER) AS frame_no
      FROM g),
px AS (SELECT doc_id, w, h, frame_no, unnest(generate_series(0, w - 1)) AS x FROM f),
pxy AS (SELECT doc_id, w, h, frame_no, x, unnest(generate_series(0, h - 1)) AS y FROM px),
sm AS (SELECT doc_id, frame_no, w, h,
              sum((doc_id + 5 * frame_no + 7 * x + 13 * y) % 256) AS ps
       FROM pxy GROUP BY 1, 2, 3, 4)
SELECT doc_id AS media_id, frame_no, w AS width, h AS height,
       CAST(ps AS BIGINT) AS px_sum
FROM sm""")),

    // Multimodal PERCEPTUAL audio dedup: energy-delta fingerprint
    // (Haitsma–Kalker shape) of the REAL decoded PCM — 17 equal-count
    // windows by exact integer index map, bit w = (window w+1's mean
    // |amplitude| > window w's), compared via cross-multiplied integer
    // sums so no float division exists for engines to disagree on —
    // then dedup by GROUPING on the 16-bit hash (the dd01 exact-dedup
    // shape with a perceptual key; never pairwise samples). The oracle
    // recomputes hash, group size, and canonical id from doc_id
    // arithmetic: the audio analog of mm06's aHash.
    Q("mm10_audio_fp_dedup",
      (s, d) => {
        val fp = Multimodal.audioFingerprint(s,
          Multimodal.synthesizeWav(s, Tables.documents(s, d)).toDF()).toDF()
        val grp = fp.groupBy(col("afp"))
          .agg(count(lit(1)).cast("long").as("n_same"),
            min(col("media_id")).as("canonical_id"))
        fp.join(grp, Seq("afp"))
          .select(col("media_id"), col("afp"), col("abs_sum"),
            col("n_same"), col("canonical_id"))
      },
      Some("""WITH g AS (SELECT doc_id, (doc_id % 96) * 7 + 64 AS n FROM documents),
s AS (SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i FROM g),
v AS (SELECT doc_id, n, (17 * (i + 1) - 1) // n AS w,
             abs(((doc_id * 31 + i * 17) % 4096) - 2048) AS av
      FROM s),
ws AS (SELECT doc_id, w, sum(av) AS es, count(*) AS c FROM v GROUP BY 1, 2),
bw AS (SELECT doc_id, w, es, c,
              lead(es) OVER (PARTITION BY doc_id ORDER BY w) AS es2,
              lead(c)  OVER (PARTITION BY doc_id ORDER BY w) AS c2
       FROM ws),
fp AS (SELECT doc_id,
              string_agg(CASE WHEN es2 * c > es * c2 THEN '1' ELSE '0' END,
                         '' ORDER BY w) AS afp
       FROM bw WHERE w < 16 GROUP BY doc_id),
ab AS (SELECT doc_id, CAST(sum(av) AS BIGINT) AS abs_sum FROM v GROUP BY 1),
grp AS (SELECT afp, CAST(count(*) AS BIGINT) AS n_same,
               min(doc_id) AS canonical_id
        FROM fp GROUP BY afp)
SELECT f.doc_id AS media_id, f.afp, ab.abs_sum, grp.n_same, grp.canonical_id
FROM fp f JOIN ab USING (doc_id) JOIN grp USING (afp)""")),
  )
}
