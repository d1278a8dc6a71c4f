package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Integer-exact Lloyd's k-means over quantized embedding vectors — the
  * semantic-clustering primitive a curation pipeline uses for diversity
  * sampling / topic balancing over document embeddings.
  *
  * Built for cross-engine verifiability AND the 100 TB shape:
  *
  *  - Coordinates are quantized ONCE to a 1/4096 integer grid
  *    (`floor(x·4096 + 0.5)` — IEEE-identical in Spark and the DuckDB
  *    oracle), so every distance is an exact int64 sum of squares and
  *    every centroid update `floor(Σv / n)` is exact: the quotient is a
  *    rational with denominator ≤ cluster size, so it is never within an
  *    ulp of a *different* integer and the double division cannot
  *    misround the floor.
  *  - Centroids live on the DRIVER (k·dims longs — bytes, not data) and
  *    enter the plan as literal arrays, so assignment is a map-only
  *    codegen'd pass over the corpus: no shuffle, no join. This is the
  *    1000-executor design — the per-round data movement is one
  *    (cluster, dim)-keyed aggregate of k·dims rows.
  *  - The update aggregate groups by (cluster, dim): k·dims keys, so
  *    Catalyst's partial aggregation collapses each partition to k·dims
  *    rows before the single tiny shuffle; the posexplode feeding it is
  *    pipelined inside the same stage, never materialized.
  *
  * Reference analog: the driver-sequenced fixpoint discipline of
  * /root/reference/src/main/scala/pageRank.scala:360-371 (rounds with a
  * driver side-channel between them), applied to a centroid table instead
  * of a rank vector.
  */
object KMeans {

  /** `floor(x·4096 + 0.5)` per element — the shared Spark/DuckDB grid. */
  def quantCol(emb: Column): Column =
    transform(emb, x => floor(x.cast("double") * 4096d + 0.5).cast("long"))

  /** Squared L2 distance of a quantized vector column to a literal
    * centroid. Uses the native codegen'd `l2_sq` expression
    * ([[graft.functions.L2Sq]] — bit-identical to the HOF formulation
    * `aggregate(zip_with(a,b,(x,y)->(x-y)*(x-y)), 0L, _+_)` by its
    * contract, incl. NULL-element and length-mismatch poisoning): the
    * zip_with/aggregate HOF chain is CodegenFallback, so the k-per-row
    * assignment loop ran INTERPRETED, allocating a zipped array per
    * centroid per row — the catalog's one non-codegen hot loop once
    * `semdedupK` scales k with the corpus (q112 at sf1: k=44, measured
    * 36 s of which the fit+assign folds dominate; guide §4). `l2_sq`
    * resolves through the session's function registry, which
    * [[graft.Session.build]] fills. */
  private def distTo(eq: Column, cent: Array[Long]): Column =
    call_function("l2_sq", eq, array(cent.map(lit(_)): _*))

  /** Exact integer L2² distances of a quantized (sub)vector column to
    * every centroid, as one array Column. PQ callers (q131) alias this to
    * a NAMED column first, so array_min/array_position reference the
    * attribute and the k folds evaluate once (HOF lambdas get no
    * cross-expression CSE — fusing min+position inline would double the
    * fold work). */
  def distArray(eqSub: Column, cents: Array[Array[Long]]): Column =
    array(cents.map(c => distTo(eqSub, c)): _*)

  /** Nearest-centroid id of a quantized (sub)vector column as a bare
    * Column — the map-only encode primitive product quantization composes
    * per subspace (q130/q131). Same exact-integer L2² and first-min
    * tie-break as [[assign]]. */
  def nearestCol(eqSub: Column, cents: Array[Array[Long]]): Column = {
    val dists = distArray(eqSub, cents)
    (array_position(dists, array_min(dists)) - 1).cast("long")
  }

  /** Adds (cluster, dist): nearest centroid by exact integer L2², ties to
    * the smallest cluster id (`array_position` returns the FIRST index of
    * the minimum). Map-only. */
  def assign(eq: DataFrame, cents: Array[Array[Long]], eqCol: String = "eq"): DataFrame = {
    val dists = array(cents.map(c => distTo(col(eqCol), c)): _*)
    eq.withColumn("dists", dists)
      .withColumn("dist", array_min(col("dists")))
      .withColumn("cluster", (array_position(col("dists"), col("dist")) - 1).cast("long"))
      .drop("dists")
  }

  /** `iters` Lloyd rounds from seed centroids = the vectors with ids
    * 0..k-1 (cluster c is seeded from id c, matching the oracle's
    * `vec_id AS cluster`). Empty clusters keep their previous centroid.
    * `eq` must hold (`idCol`, `eqCol`: array&lt;long&gt;); callers pass a
    * checkpointed frame so the corpus scan is not re-done per round. */
  def fit(eq: DataFrame, k: Int, iters: Int,
          idCol: String = "vec_id", eqCol: String = "eq"): Array[Array[Long]] = {
    val seedRows = eq.filter(col(idCol) < k).select(col(idCol), col(eqCol)).collect()
      .sortBy(_.getLong(0))
    require(seedRows.length == k && seedRows.map(_.getLong(0)).sameElements(0L until k),
      s"k-means seeding expects ids 0..${k - 1} to exist")
    var cents = seedRows.map(_.getSeq[Long](1).toArray)
    for (_ <- 1 to iters) {
      val sums = assign(eq, cents, eqCol)
        .select(col("cluster"), posexplode(col(eqCol)).as(Seq("dim", "v")))
        .groupBy(col("cluster"), col("dim"))
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        .collect()
      val next = cents.map(_.clone())
      sums.foreach { r =>
        next(r.getLong(0).toInt)(r.getInt(1)) =
          math.floor(r.getLong(2).toDouble / r.getLong(3)).toLong
      }
      cents = next
    }
    cents
  }
}
