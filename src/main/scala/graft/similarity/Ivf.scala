package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF-style approximate nearest-neighbor search over an embedding column
  * (builder-prompt "similarity search" scale path; complements q35's
  * brute force and q37's single-cell probe).
  *
  * Coarse quantizer: signed random projections (SRP-LSH) — bit j is the
  * sign of ⟨v, p_j⟩ for a deterministic Rademacher (±1) hyperplane p_j.
  * For unit-ish vectors P[bit agrees] = 1 − θ/π, so cosine-near vectors
  * land in Hamming-near cells REGARDLESS of how the data is oriented
  * (raw-dimension sign bits — q37's cheap variant — carry no locality
  * when clusters differ in other dimensions). Deterministic: planes are
  * seeded per bit index, identical on driver and executors. Recall is
  * tuned at query time by probing the `nprobe` cells nearest in Hamming
  * distance to the query's cell.
  *
  * Scale notes (100 TB): `buildPartitioned` persists the index partitioned
  * BY CELL, so a probe reads only nprobe/2^nbits of the corpus —
  * partition pruning does the candidate selection before any row is
  * deserialized (IvfSpec asserts PartitionFilters). Inside a cell the
  * exact re-rank uses the codegen'd cosine_sim expression. The driver-side
  * work is O(2^nbits) cell ids — nbits ≤ ~16 keeps that trivial.
  */
object Ivf {

  val DefaultBits = 8
  val DefaultDims = 64

  /** Deterministic Rademacher plane for bit j: dims entries of ±1, seeded
    * by j — identical on driver and executors. */
  private[graft] def plane(j: Int, dims: Int): Array[Int] = {
    val rnd = new scala.util.Random(j * 0x9E3779B9L + 17)
    Array.fill(dims)(if (rnd.nextBoolean()) 1 else -1)
  }

  /** Cell id column: SRP sign bits, ⟨v, p_j⟩ > 0 for j < nbits — the fused
    * codegen'd [[graft.functions.SrpCell]] expression (one pass over the
    * vector, nbits running dots; bit- and NULL-compatible with the unfused
    * per-plane `element_at` sum it replaced). `srp_cell` resolves through
    * the session's function registry, which [[graft.Session.build]] fills. */
  def cellCol(vecCol: String, nbits: Int, dims: Int): org.apache.spark.sql.Column =
    expr(s"srp_cell($vecCol, $nbits, $dims)")

  /** Attach the cell id. */
  def buildIndex(embeddings: DataFrame, vecCol: String = "embedding",
      nbits: Int = DefaultBits, dims: Int = DefaultDims): DataFrame =
    embeddings.withColumn("cell", cellCol(vecCol, nbits, dims))

  /** Persist the index partitioned by cell (hive-style) — probes become
    * partition-pruned scans. */
  def buildPartitioned(embeddings: DataFrame, path: String,
      vecCol: String = "embedding", nbits: Int = DefaultBits,
      dims: Int = DefaultDims): Unit =
    buildIndex(embeddings, vecCol, nbits, dims)
      .write.mode("overwrite").partitionBy("cell").parquet(path)

  /** Cell of a query vector (driver-side, same planes). */
  def cellOf(q: Seq[Float], nbits: Int = DefaultBits): Int =
    (0 until nbits).map { j =>
      val p = plane(j, q.length)
      val dot = q.indices.map(d => p(d).toDouble * q(d)).sum
      if (dot > 0) 1 << j else 0
    }.sum

  /** The `nprobe` cells nearest to `cell` in Hamming distance
    * (deterministic order: distance, then cell id). */
  def probeCells(cell: Int, nbits: Int, nprobe: Int): Seq[Int] =
    (0 until (1 << nbits))
      .sortBy(c => (Integer.bitCount(c ^ cell), c))
      .take(nprobe)

  /** Margin-aware multi-probe order (Lv et al.'s multi-probe LSH idea):
    * a neighbor most likely disagrees on the bits where the query's
    * projection margin |⟨q,p_j⟩| is smallest, so cells are ranked by the
    * summed margins of their flipped bits, not by raw bit count. */
  def probeCellsForQuery(q: Seq[Float], nbits: Int, nprobe: Int): Seq[Int] = {
    val margins = (0 until nbits).map { j =>
      val p = plane(j, q.length)
      math.abs(q.indices.map(d => p(d).toDouble * q(d)).sum)
    }
    val cell0 = cellOf(q, nbits)
    (0 until (1 << nbits))
      .sortBy { c =>
        val flips = c ^ cell0
        ((0 until nbits).collect { case j if ((flips >> j) & 1) == 1 => margins(j) }.sum, c)
      }
      .take(nprobe)
  }

  /** Top-k by exact cosine within the probed cells. `index` is the output
    * of buildIndex (or the partitioned read); returns
    * (id columns…, cell, sim) ordered sim DESC. */
  def query(spark: SparkSession, index: DataFrame, q: Seq[Float], k: Int,
      nprobe: Int = 8, nbits: Int = DefaultBits,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val cells = probeCellsForQuery(q, nbits, nprobe)
    index
      .filter(col("cell").isin(cells: _*))
      .withColumn("qv", array(q.map(v => lit(v)): _*))
      .withColumn("sim", expr(s"cosine_sim($vecCol, qv)"))
      .select(col(idCol), col("cell"), col("sim"))
      .orderBy(desc("sim"), col(idCol))
      .limit(k)
  }

  /** Exact brute-force top-k (the recall baseline). */
  def bruteForce(spark: SparkSession, embeddings: DataFrame, q: Seq[Float],
      k: Int, vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    embeddings
      .withColumn("qv", array(q.map(v => lit(v)): _*))
      .withColumn("sim", expr(s"cosine_sim($vecCol, qv)"))
      .select(col(idCol), col("sim"))
      .orderBy(desc("sim"), col(idCol))
      .limit(k)
  }
}
