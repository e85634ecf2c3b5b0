package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persistent IVF coarse-quantizer index — the ANN artifact an embedding
  * service ships: the frozen centroid table (the integer-quantized
  * (clabel, cdim, sq, cnt) shape q43/q74 probe) plus the (vec_id, label)
  * assignment of every indexed vector. With the index stored, adding a
  * batch of new vectors costs ∝ |batch| (each scores against the
  * broadcast centroids — the same integer distance the search probes
  * with), and a search session reads assignments instead of re-deriving
  * them; the training corpus is never re-touched.
  *
  * Storage discipline is [[DedupIndex]]'s LSM exactly: version v=1 (a
  * base) carries the centroids and the initial assignment; each append
  * publishes ONLY the newly-indexed vectors' assignment rows (idempotent
  * re-sends anti-join away); reads union the newest base with later
  * deltas; `compact` folds the chain. Every publish goes through the
  * stage → read-back manifest → atomic no-overwrite-rename CAS, and the
  * centroid family is pinned at init — centroids are FROZEN (standard
  * IVF discipline: re-training the quantizer is a rebuild, loudly, never
  * a silent drift of cell boundaries under existing assignments).
  */
object IvfIndex {

  final case class IvfIndexStats(
      version: Long, kind: String, k: Long, newAssigned: Long, totalAssigned: Long)

  private final case class Meta(kind: String, k: Long, na: Long)

  private val MetaRe = """\{"kind":"(base|delta)","k":(\d+),"na":(\d+)\}""".r

  private val ledger = new Ledger[Meta](
    "IVF index", "index update",
    m => s"""{"kind":"${m.kind}","k":${m.k},"na":${m.na}}""",
    { case MetaRe(kind, k, na) => Some(Meta(kind, k.toLong, na.toLong)); case _ => None },
    _.kind == "base")

  def listVersions(spark: SparkSession, dir: String): Seq[Long] = ledger.listVersions(spark, dir)

  def currentVersion(spark: SparkSession, dir: String): Option[Long] =
    ledger.currentVersion(spark, dir)

  /** The frozen centroid table (clabel, cdim, sq, cnt) — stored with the
    * chain's newest base version.
    */
  def centroids(spark: SparkSession, dir: String): DataFrame = {
    val v = ledger.readChain(spark, dir).head
    spark.read.parquet(s"${ledger.versionPath(dir, v)}/centroids")
  }

  /** The current (vec_id, label) assignment view. */
  def assign(spark: SparkSession, dir: String): DataFrame =
    ledger.readUnion(spark, dir, "assign")

  /** The number of cells the quantizer was built with (pinned at init). */
  def storeK(spark: SparkSession, dir: String): Long = ledger.pinned(spark, dir).k

  private def stage(
      spark: SparkSession, dir: String, v: Long, kind: String, k: Long,
      assign: DataFrame, centroids: Option[DataFrame]): Path =
    ledger.stage(spark, dir, v) { staging =>
      assign.write.mode("overwrite").parquet(s"$staging/assign")
      centroids.foreach(_.write.mode("overwrite").parquet(s"$staging/centroids"))
      Meta(kind, k, spark.read.parquet(s"$staging/assign").count())
    }

  /** Quiesced-writers crash-debris cleanup — [[CasProtocol.repair]]. */
  def repair(spark: SparkSession, dir: String): Seq[String] = ledger.repair(spark, dir)

  private def stats(spark: SparkSession, dir: String, v: Long): IvfIndexStats = {
    val m = ledger.meta(spark, dir, v)
    val total = ledger.readChain(spark, dir).map(ledger.meta(spark, dir, _).na).sum
    IvfIndexStats(v, m.kind, m.k, m.na, total)
  }

  /** Build v=1 from a quantizer: the (vec_id, label) assignment and its
    * (clabel, cdim, sq, cnt) centroid table — either the corpus's own
    * labels (`Similarity.corpusQuantizer`, the identity quantizer q74
    * probes by default) or a trained `IvfModel`'s pair. Fails if
    * initialized.
    */
  def init(
      spark: SparkSession, dir: String,
      assignment: DataFrame, centroidTable: DataFrame): IvfIndexStats = {
    ledger.requireEmpty(spark, dir)
    val a = assignment.select(col("vec_id"), col("label"))
    val c = centroidTable.select(col("clabel"), col("cdim"), col("sq"), col("cnt"))
    val k = c.select(col("clabel")).distinct().count()
    require(k >= 1, "quantizer has no centroids")
    ledger.commit(spark, dir, stage(spark, dir, 1L, "base", k, a, Some(c)), 1L)
    stats(spark, dir, 1L)
  }

  /** Index a batch of NEW vectors: each scores against the broadcast
    * frozen centroids with the family's integer distance
    * (diff = q·cnt − sq, dist = Σdiff² / cnt² — bit-identical to the
    * q43/q74 probe and the Lloyd step), takes the argmin cell with the
    * deterministic label tie-break, and publishes as a delta. Already-
    * indexed vec_ids anti-join away, so re-sending a batch is a no-op —
    * cost is ∝ |batch| at any index size.
    *
    * `batchEv` is the quantized exploded view (vec_id, dim, q) —
    * `Similarity.quantizedEv`'s shape.
    */
  def append(spark: SparkSession, dir: String, batchEv: DataFrame): IvfIndexStats = {
    val cur = ledger.latest(spark, dir)
    val k = storeK(spark, dir)
    val cent = centroids(spark, dir)
    val diff = col("q") * col("cnt") - col("sq")
    val w = Window.partitionBy(col("vec_id")).orderBy(col("dist"), col("clabel"))
    val assigned = batchEv
      .join(broadcast(cent), col("dim") === col("cdim"))
      .groupBy(col("vec_id"), col("clabel"))
      .agg(sum(diff * diff).as("num"), max(col("cnt")).as("cnt"))
      .withColumn("dist", col("num").cast("double") / (col("cnt") * col("cnt")).cast("double"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("clabel").as("label"))
    val fresh = assigned.join(assign(spark, dir), Seq("vec_id"), "left_anti")
    // the commit's marker-CAS arbitrates concurrent appenders (DedupIndex's rule)
    val staging = stage(spark, dir, cur + 1, "delta", k, fresh, None)
    stats(spark, dir, ledger.commitUnlessEmpty(spark, dir, staging, cur + 1)(_.na == 0L))
  }

  /** Fold the chain into one base (centroids copied — they are frozen),
    * proving the assignment view unchanged before anything publishes.
    */
  def compact(spark: SparkSession, dir: String): IvfIndexStats = {
    val cur = ledger.latest(spark, dir)
    if (ledger.readChain(spark, dir).size <= 1) return stats(spark, dir, cur)
    val before = stats(spark, dir, cur)
    val staging = stage(
      spark, dir, cur + 1, "base", before.k,
      assign(spark, dir), Some(centroids(spark, dir)))
    ledger.commitIfUnchanged(spark, dir, staging, cur + 1, before.totalAssigned)(_.na)
    stats(spark, dir, cur + 1)
  }
}
