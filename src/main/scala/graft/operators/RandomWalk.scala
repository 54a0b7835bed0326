package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic uniform random walks (the DeepWalk / node2vec p=q=1
  * corpus generator, Perozzi 2014): one walk per seed node, each step
  * moving to a uniformly-"random" out-neighbor. Randomness is
  * md5(walk:salt:step) — a deterministic function of the walk identity
  * and step number, so the walk corpus is reproducible run to run,
  * engine to engine (the generated oracle replays every step), and
  * across partitionings; changing `salt` draws a fresh independent
  * corpus, which is how you get W walks per node: W salts.
  *
  * Distributed shape: the neighbor relation carries a dense per-source
  * rank (row_number by dst — ONE window over the edge relation, done
  * once) plus the out-degree, checkpointed pre-partitioned by src. Each
  * step is one equi-join of the walk frontier against that relation on
  * (cur = src) with the residual pick predicate idx = h % outdeg — the
  * join key carries the equality, the md5 pick filters the matched
  * neighbor block row-locally, so a step costs exactly one exchange of
  * the walk relation (node-sized, not edge-sized). Walks reaching a
  * dead-end node (no out-edges) terminate and leave the relation —
  * symmetrized graphs have none. */
object RandomWalk {

  /** Per-step walk summary (step, n_walks, sum_cur) for steps 0..S from
    * one walk per seed {n : n % seedsMod == 0, n has out-edges}.
    * `sum_cur` is an order-invariant checksum of every walk's position. */
  def walkSummary(edges: DataFrame, srcCol: String, dstCol: String,
                  seedsMod: Long, steps: Int,
                  salt: String = "walk"): DataFrame = {
    require(steps >= 1, s"steps must be >= 1, got $steps")
    // COST gate (SmallGraph): neighbor ranking + the md5 step picks run
    // inside ONE executor task under the size threshold; the distributed
    // frontier join below is the 100 TB path.
    SmallGraph.route(edges, Seq(srcCol, dstCol))(
        SmallGraph.randomWalkKernel(_, seedsMod, steps, salt),
        "step", "n_walks", "sum_cur") { edges =>
      val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct()
      val nbr = e
        .withColumn("idx",
          row_number().over(Window.partitionBy("src").orderBy("dst")) - 1)
        .withColumn("outdeg", count(lit(1)).over(Window.partitionBy("src")))
        .repartition(col("src")).localCheckpoint(true)
      var walks = nbr.select(col("src").as("walk")).distinct()
        .filter(pmod(col("walk"), lit(seedsMod)) === 0)
        .select(col("walk"), col("walk").as("cur"))
        .localCheckpoint(true)
      val snapshots = scala.collection.mutable.ArrayBuffer(walks)
      for (s <- 1 to steps) {
        walks = step(walks, nbr, s, salt).localCheckpoint(true)
        snapshots += walks
      }
      snapshots.zipWithIndex.map { case (w, s) =>
        w.agg(count(lit(1)).as("n_walks"),
            coalesce(sum(col("cur")), lit(0L)).as("sum_cur"))
          .select(lit(s.toLong).as("step"), col("n_walks"), col("sum_cur"))
      }.reduce(_ unionByName _)
    }
  }

  /** One walk step: the (cur = src) EQUI-join against the ranked
    * neighbor relation with the md5 pick — h in [0, 2³²), the prefix
    * both engines parse identically — as a residual predicate riding it
    * (never a cartesian). Exposed for plan pinning. */
  private[graft] def step(walks: DataFrame, nbr: DataFrame, s: Int,
                          salt: String): DataFrame = {
    val h = conv(substring(
      md5(concat(col("walk").cast("string"), lit(s":$salt:$s"))), 1, 8),
      16, 10).cast("long")
    walks.join(nbr, walks("cur") === nbr("src") &&
        nbr("idx") === pmod(h, nbr("outdeg")))
      .select(col("walk"), col("dst").as("cur"))
  }

  /** Generated DuckDB replay over an edge CTE `edgesSql` (columns src,
    * dst): dense neighbor ranks, per-step md5 picks, CTEs s0..sS plus a
    * `summary`; the final SELECT is the caller's. */
  def oracleCtes(edgesSql: String, seedsMod: Long, steps: Int,
                 salt: String = "walk"): String = {
    val sb = new StringBuilder
    sb.append(s"""WITH e0 AS ($edgesSql),
      e AS MATERIALIZED (SELECT DISTINCT src, dst FROM e0),
      nbr AS MATERIALIZED (
        SELECT src, dst,
          row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx,
          COUNT(*) OVER (PARTITION BY src) AS outdeg
        FROM e),
      s0 AS MATERIALIZED (
        SELECT DISTINCT src AS walk, src AS cur FROM e
        WHERE src % $seedsMod = 0)""")
    for (s <- 1 to steps) {
      val p = s - 1
      sb.append(s""",
        s$s AS MATERIALIZED (
          SELECT w.walk, n.dst AS cur
          FROM s$p w JOIN nbr n ON n.src = w.cur
           AND n.idx = ('0x' || substr(
                 md5(CAST(w.walk AS VARCHAR) || ':$salt:$s'), 1, 8))::BIGINT
               % n.outdeg)""")
    }
    sb.append(s""",
      summary AS (${(0 to steps).map { s =>
      s"""SELECT CAST($s AS BIGINT) AS step,
            CAST(count(*) AS BIGINT) AS n_walks,
            CAST(COALESCE(sum(cur), 0) AS BIGINT) AS sum_cur FROM s$s"""
    }.mkString(" UNION ALL ")})""")
    sb.toString
  }
}
