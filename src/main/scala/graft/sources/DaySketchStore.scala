package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

final case class DaySketchStats(version: Long, kind: String, newDays: Long, totalDays: Long)

/** A persistent per-epoch-day sketch ledger — the shape [[HllStore]] and
  * [[KllStore]] share, differing only in the sketch they aggregate: one
  * mergeable sketch per epoch day over the attributed `valueCol` stream,
  * merged at read time over exactly the days a query asks for, so a
  * window is answered without a raw-event pass.
  *
  * Storage discipline: v=1 base; appends publish ONLY complete NEW days
  * (a day already in the ledger is frozen — re-sending it anti-joins
  * away; daily ledgers append whole closed days, never partial updates,
  * and re-adding a KLL day would double its mass); reads union the
  * newest base with later deltas; `compact` folds the chain after proving
  * the day count unchanged. Every publish stages, reads back a manifest
  * count, and claims its version slot through the shared [[Ledger]]. The
  * marker carries the corpus tag provenance-checked reads and appends
  * enforce.
  */
abstract class DaySketchStore private[sources] (name: String, update: String) {

  /** The attributed value column a day's sketch summarizes. */
  protected def valueCol: String

  /** The per-day sketch aggregate over `valueCol`. */
  protected def sketchAgg: Column

  import DaySketchStore.{Meta, MetaRe}

  private val ledger = new Ledger[Meta](
    s"$name store", update,
    m => s"""{"kind":"${m.kind}","nd":${m.nd},"corpus":"${m.corpus}"}""",
    { case MetaRe(kind, nd, corpus) => Some(Meta(kind, nd.toLong, corpus)); case _ => None },
    _.kind == "base")

  def listVersions(spark: SparkSession, dir: String): Seq[Long] = ledger.listVersions(spark, dir)

  def currentVersion(spark: SparkSession, dir: String): Option[Long] =
    ledger.currentVersion(spark, dir)

  /** The (day, sk) ledger view — one committed sketch per epoch day.
    *
    * `expectCorpus` is the read-time provenance check (FreqStore's
    * family-validation discipline): a consumer that knows which corpus
    * it is querying passes the tag its store MUST have been built from,
    * and a ledger built from a different corpus/SF fails loudly here
    * instead of silently joining wrong estimates into the answer.
    */
  def sketches(
      spark: SparkSession, dir: String, expectCorpus: Option[String] = None): DataFrame = {
    val chain = ledger.readChain(spark, dir)
    expectCorpus.foreach { want =>
      val have = ledger.meta(spark, dir, chain.head).corpus
      require(have == want,
        s"$name ledger at $dir was built from corpus '$have' but the query reads " +
          s"corpus '$want' — refusing to merge sketches across corpora")
    }
    chain
      .map(v => spark.read.parquet(s"${ledger.versionPath(dir, v)}/sketches"))
      .reduce(_.unionByName(_))
  }

  /** Per-(epoch-day) sketch of the attributed value — the ONE definition
    * the store build and any in-query derivation share (no drift; null
    * values carry nothing to count). Input must hold `ts` (timestamp)
    * and `valueCol`.
    */
  def daySketches(events: DataFrame): DataFrame =
    events
      .filter(col(valueCol).isNotNull)
      .groupBy(expr("unix_micros(ts) DIV 86400000000").as("day"))
      .agg(sketchAgg.as("sk"))

  private def stage(
      spark: SparkSession, dir: String, v: Long, kind: String, sk: DataFrame,
      corpus: String): org.apache.hadoop.fs.Path = {
    require(!corpus.contains("\"") && !corpus.contains("\\"),
      s"corpus tag must be quote/backslash-free (it is embedded in the marker JSON): $corpus")
    ledger.stage(spark, dir, v) { staging =>
      sk.write.mode("overwrite").parquet(s"$staging/sketches")
      Meta(kind, spark.read.parquet(s"$staging/sketches").count(), corpus)
    }
  }

  /** Quiesced-writers crash-debris cleanup — [[CasProtocol.repair]]. */
  def repair(spark: SparkSession, dir: String): Seq[String] = ledger.repair(spark, dir)

  private def stats(spark: SparkSession, dir: String, v: Long): DaySketchStats = {
    val m = ledger.meta(spark, dir, v)
    val total = ledger.readChain(spark, dir).map(ledger.meta(spark, dir, _).nd).sum
    DaySketchStats(v, m.kind, m.nd, total)
  }

  /** The corpus tag the ledger at `dir` was built from. */
  def corpus(spark: SparkSession, dir: String): String =
    ledger.meta(spark, dir, ledger.readChain(spark, dir).head).corpus

  /** Build v=1 from an events frame. Fails if already initialized.
    * `corpus` names the event corpus (e.g. the source dir) — recorded in
    * the marker and enforced on provenance-checked reads and appends.
    */
  def init(
      spark: SparkSession, dir: String, events: DataFrame, corpus: String): DaySketchStats = {
    ledger.requireEmpty(spark, dir)
    ledger.commit(spark, dir, stage(spark, dir, 1L, "base", daySketches(events), corpus), 1L)
    stats(spark, dir, 1L)
  }

  /** Append a batch of complete NEW days: frozen days anti-join away
    * (idempotent re-send); an empty remainder publishes nothing. The
    * batch must carry the ledger's corpus tag — mixing corpora in one
    * ledger is refused, not averaged.
    */
  def append(
      spark: SparkSession, dir: String, events: DataFrame, corpus: String): DaySketchStats = {
    val cur = ledger.latest(spark, dir)
    val have = this.corpus(spark, dir)
    require(have == corpus,
      s"$name ledger at $dir holds corpus '$have'; refusing to append batch tagged '$corpus'")
    val fresh = daySketches(events)
      .join(sketches(spark, dir).select(col("day")), Seq("day"), "left_anti")
    val staging = stage(spark, dir, cur + 1, "delta", fresh, corpus)
    stats(spark, dir, ledger.commitUnlessEmpty(spark, dir, staging, cur + 1)(_.nd == 0L))
  }

  /** Fold the chain into one base, proving the day count unchanged (exact
    * parsed-count equality) before anything publishes.
    */
  def compact(spark: SparkSession, dir: String): DaySketchStats = {
    val cur = ledger.latest(spark, dir)
    if (ledger.readChain(spark, dir).size <= 1) return stats(spark, dir, cur)
    val before = stats(spark, dir, cur)
    val staging =
      stage(spark, dir, cur + 1, "base", sketches(spark, dir), corpus(spark, dir))
    ledger.commitIfUnchanged(spark, dir, staging, cur + 1, before.totalDays)(_.nd)
    stats(spark, dir, cur + 1)
  }
}

private object DaySketchStore {
  private final case class Meta(kind: String, nd: Long, corpus: String)

  private val MetaRe = """\{"kind":"(base|delta)","nd":(\d+),"corpus":"([^"]*)"\}""".r
}
